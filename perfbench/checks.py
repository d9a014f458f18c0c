"""Output checks that do not depend on the implementation under test.

Every expected value is computed from the tape generator's own numpy
arrays (never read back through the program), outside the timed passes.
A check returns a list of failure messages; an empty list is a pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from tape import Tape

__all__ = ["Reference"]

_DAY_US = 86_400_000_000
_EPS = 1e-9


def _us(col: pd.Series) -> np.ndarray:
    """Timestamps as int64 microseconds since the epoch (UTC)."""
    if isinstance(col.dtype, pd.DatetimeTZDtype):
        col = col.dt.tz_convert("UTC").dt.tz_localize(None)
    return col.to_numpy().astype("datetime64[us]").astype(np.int64)


def _sym_index(tape: Tape, col: pd.Series) -> np.ndarray:
    lookup = {s: i for i, s in enumerate(tape.symbols)}
    return col.map(lookup).to_numpy()


class Reference:
    """Expected properties of each output, derived from one tape."""

    def __init__(self, tape: Tape):
        self.tape = tape
        n_sym = len(tape.symbols)
        self.sym_size = np.bincount(tape.symbol, weights=tape.size, minlength=n_sym)
        self.sym_count = np.bincount(tape.symbol, minlength=n_sym)
        # Per-symbol time order (the tape itself is time-ordered across symbols).
        self.by_sym = np.lexsort((tape.ts_us, tape.symbol))

    # -- bars ---------------------------------------------------------------

    def _totals(self, pdf: pd.DataFrame, label: str, n_trades: np.ndarray | None) -> list[str]:
        n_sym = len(self.tape.symbols)
        sym = _sym_index(self.tape, pdf["symbol"])
        if np.isnan(sym.astype(float)).any():
            return [f"{label}: unknown symbol in output"]
        sym = sym.astype(np.int64)
        got_size = np.bincount(sym, weights=pdf["volume"].to_numpy(), minlength=n_sym)
        errors = []
        if not np.array_equal(got_size, self.sym_size):
            errors.append(f"{label}: per-symbol volume {got_size.sum():.0f} != traded size {self.sym_size.sum():.0f}")
        if n_trades is not None:
            got_n = np.bincount(sym, weights=pdf["n_trades"].to_numpy(), minlength=n_sym)
            if not np.array_equal(got_n, n_trades):
                errors.append(f"{label}: per-symbol n_trades {got_n.sum():.0f} != expected {n_trades.sum():.0f}")
        return errors

    @staticmethod
    def _ohlc(pdf: pd.DataFrame, label: str) -> list[str]:
        o, h, l, c, v = (pdf[k].to_numpy(dtype=float) for k in ("open", "high", "low", "close", "vwap"))
        bad = (l > np.minimum(o, c)) | (h < np.maximum(o, c)) | (v < l - _EPS * h) | (v > h + _EPS * h)
        if len(pdf) == 0:
            return [f"{label}: no bars"]
        return [f"{label}: {int(bad.sum())} bars break OHLC bounds"] if bad.any() else []

    def bars(self, pdf: pd.DataFrame, label: str, *, count_trades: bool = True) -> list[str]:
        """Conservation of Σsize (and Σn_trades when every trade lands in
        exactly one bar) per symbol, plus OHLC bounds."""
        return self._totals(pdf, label, self.sym_count if count_trades else None) + self._ohlc(pdf, label)

    def volume_bars(self, pdf: pd.DataFrame, bar_size: int) -> list[str]:
        """Split semantics: a trade straddling a boundary becomes one piece
        per bar, so n_trades counts pieces; every bar but the last of each
        (symbol, date) holds exactly ``bar_size``."""
        t = self.tape
        order = np.lexsort((t.ts_us, t.day, t.symbol))
        sym, day, size = t.symbol[order], t.day[order], t.size[order]
        key = sym.astype(np.int64) * 1_000_000 + day
        new = np.concatenate(([True], key[1:] != key[:-1]))
        cs = np.cumsum(size)
        base = np.maximum.accumulate(np.where(new, cs - size, 0))
        cur = cs - base
        prev = cur - size
        pieces = (cur - 1) // bar_size - prev // bar_size + 1
        expected_n = np.bincount(sym, weights=pieces, minlength=len(t.symbols))
        errors = self._totals(pdf, "volume_bars", expected_n) + self._ohlc(pdf, "volume_bars")

        start = _us(pdf["timestamp_start"])
        frame = pd.DataFrame({"symbol": pdf["symbol"].to_numpy(), "day": start // _DAY_US, "start": start,
                              "volume": pdf["volume"].to_numpy()})
        last = frame.groupby(["symbol", "day"])["start"].transform("max") == frame["start"]
        short = int((frame.loc[~last, "volume"] != bar_size).sum())
        if short:
            errors.append(f"volume_bars: {short} non-final bars differ from bar_size {bar_size}")
        return errors

    def feature_matrix(self, pdf: pd.DataFrame, n_dollar_bars: int) -> list[str]:
        errors = []
        if len(pdf) != n_dollar_bars:
            errors.append(f"bar_feature_matrix: {len(pdf)} rows != {n_dollar_bars} dollar bars")
        labels = set(pdf["label"].dropna().unique().tolist())
        if not labels <= {-1.0, 0.0, 1.0}:
            errors.append(f"bar_feature_matrix: labels {sorted(labels)} outside {{-1, 0, 1}}")
        return errors

    # -- sampling -----------------------------------------------------------

    def cusum_events(self, h: float) -> set[tuple[int, int, int]]:
        """The AFML snippet, verbatim, per symbol: (symbol, ts_us, side)."""
        t = self.tape
        events = set()
        sym_sorted = t.symbol[self.by_sym]
        cuts = np.flatnonzero(np.diff(sym_sorted)) + 1
        for rows in np.split(self.by_sym, cuts):
            prices = t.price[rows].tolist()
            stamps = t.ts_us[rows].tolist()
            s = int(t.symbol[rows[0]])
            s_pos = s_neg = 0.0
            for i in range(1, len(prices)):
                d = prices[i] - prices[i - 1]
                s_pos, s_neg = max(0.0, s_pos + d), min(0.0, s_neg + d)
                if s_neg < -h:
                    s_neg = 0.0
                    events.add((s, stamps[i], -1))
                elif s_pos > h:
                    s_pos = 0.0
                    events.add((s, stamps[i], 1))
        return events

    def cusum(self, pdf: pd.DataFrame, h: float) -> list[str]:
        got = set(zip(_sym_index(self.tape, pdf["symbol"]).tolist(), _us(pdf["timestamp"]).tolist(),
                      pdf["side"].astype(int).tolist()))
        want = self.cusum_events(h)
        if not want:
            return ["cusum_filter: threshold yields no reference events"]
        if got != want:
            return [f"cusum_filter: {len(got ^ want)} events differ from the AFML loop ({len(got)} vs {len(want)})"]
        return []

    # -- labels, features, weights -----------------------------------------

    def _has_lookback(self) -> np.ndarray:
        """Ticks with a trade of their symbol at or before ts - 24h."""
        t = self.tape
        first = np.full(len(t.symbols), np.iinfo(np.int64).max)
        np.minimum.at(first, t.symbol, t.ts_us)
        return t.ts_us - _DAY_US >= first[t.symbol]

    def daily_vol(self, pdf: pd.DataFrame) -> list[str]:
        errors = []
        if len(pdf) != len(self.tape):
            errors.append(f"daily_vol: {len(pdf)} rows != {len(self.tape)} ticks")
        vol = pdf["daily_return_volatility"]
        want = int(self._has_lookback().sum())
        if int(vol.notna().sum()) != want:
            errors.append(f"daily_vol: {int(vol.notna().sum())} non-null != {want} ticks with a 24h lookback")
        if (vol.dropna() < 0).any():
            errors.append("daily_vol: negative volatility")
        return errors

    def triple_barrier(self, pdf: pd.DataFrame) -> list[str]:
        labels = set(pdf["label"].dropna().astype(int).unique().tolist())
        errors = []
        if not labels <= {-1, 0, 1}:
            errors.append(f"get_triple_barrier_label: labels {sorted(labels)} outside {{-1, 0, 1}}")
        want = int(self._has_lookback().sum())
        if len(pdf) != want or pdf["label"].isna().any():
            errors.append(f"get_triple_barrier_label: {int(pdf['label'].notna().sum())} labels != {want} events")
        return errors

    @staticmethod
    def ffd_weights(d: float, threshold: float) -> np.ndarray:
        """AFML 5.4.2 fixed-width window weights, w[k] applying to lag k."""
        w = [1.0]
        k = 1
        while True:
            nxt = -w[-1] * (d - k + 1) / k
            if abs(nxt) < threshold:
                return np.asarray(w)
            w.append(nxt)
            k += 1

    def frac_diff(self, pdf: pd.DataFrame, d: float, threshold: float, seed: int) -> list[str]:
        t = self.tape
        w = self.ffd_weights(d, threshold)
        width = len(w)
        want = int(np.maximum(self.sym_count - (width - 1), 0).sum())
        got = pdf["frac_diff"]
        errors = []
        if int(got.notna().sum()) != want:
            errors.append(f"frac_diff: {int(got.notna().sum())} non-null != {want} (window {width})")
        rows = pdf[got.notna()]
        if rows.empty:
            return errors + ["frac_diff: no values to sample"]
        sample = rows.sample(n=min(200, len(rows)), random_state=seed)
        # Position of every tick in its symbol's time-ordered series.
        pos_of = {}
        for s in range(len(t.symbols)):
            idx = self.by_sym[t.symbol[self.by_sym] == s]
            pos_of[s] = (t.ts_us[idx], t.price[idx])
        bad = 0
        for s, ts, val in zip(_sym_index(t, sample["symbol"]).tolist(), _us(sample["timestamp"]).tolist(),
                              sample["frac_diff"].tolist()):
            stamps, prices = pos_of[s]
            i = int(np.searchsorted(stamps, ts))
            window = prices[i - width + 1 : i + 1][::-1]
            ref = float(np.dot(w, window))
            if abs(val - ref) > 1e-9 * max(1.0, float(np.abs(w * window).sum())):
                bad += 1
        if bad:
            errors.append(f"frac_diff: {bad} of {len(sample)} sampled rows differ from the numpy dot product")
        return errors

    def sample_weights(self, pdf: pd.DataFrame) -> list[str]:
        errors = []
        if len(pdf) != len(self.tape):
            errors.append(f"sample_weights: {len(pdf)} rows != {len(self.tape)} events")
        u = pdf["avg_uniqueness"].to_numpy(dtype=float)
        if not ((u > 0) & (u <= 1 + 1e-12)).all():
            errors.append("sample_weights: avg_uniqueness outside (0, 1]")
        return errors
