"""Seeded synthetic tick tape, built with numpy and written with pyarrow.

The tape is the only thing the program under test receives.  Its shape:

* ``n_symbols`` symbols over ``n_days`` consecutive trading days, each
  day a 09:30-16:00 UTC session, ticks spread evenly over the
  (symbol, date) partitions;
* timestamps strictly increasing within a symbol (so no two trades of a
  symbol tie and order-dependent checks cannot flake), and the whole
  tape sorted by time across symbols;
* prices follow a per-symbol geometric random walk rounded to the cent,
  so CUSUM events and barrier touches fire at realistic rates;
* sizes come in round lots of 100 shares.

Everything the output checks need is kept as numpy arrays on the
``Tape`` object, so checks never read the program's inputs back through
the program.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

__all__ = ["Tape", "make_tape"]

_START = dt.datetime(2024, 3, 4)  # a Monday
_SESSION_OPEN_US = (9 * 3600 + 30 * 60) * 1_000_000
_SESSION_US = int(6.5 * 3600 * 1_000_000)
_DAY_US = 86_400_000_000
_TICK_SIGMA = 0.0005  # per-tick log-return sd: about 2% a day at 2k ticks
_LOT = 100


@dataclasses.dataclass
class Tape:
    """The generated trades, time-ordered across symbols."""

    ts_us: np.ndarray  # int64 microseconds since the epoch
    price: np.ndarray  # float64
    size: np.ndarray  # int64
    symbol: np.ndarray  # int32 index into ``symbols``
    symbols: list[str]
    n_days: int

    def __len__(self) -> int:
        return len(self.ts_us)

    @property
    def day(self) -> np.ndarray:
        """Day index (UTC date) of every tick."""
        return self.ts_us // _DAY_US

    def table(self, rows: slice = slice(None)) -> pa.Table:
        return pa.table(
            {
                "timestamp": pa.array(self.ts_us[rows], pa.timestamp("us", tz="UTC")),
                "price": pa.array(self.price[rows], pa.float64()),
                "size": pa.array(self.size[rows], pa.int64()),
                "symbol": pa.array(np.asarray(self.symbols, dtype=object)[self.symbol[rows]], pa.string()),
            }
        )

    def write_daily(self, directory: str) -> str:
        """One parquet file per trading day (a daily tape); returns the dir."""
        os.makedirs(directory, exist_ok=True)
        day = self.day
        cuts = np.flatnonzero(np.diff(day)) + 1
        bounds = np.concatenate(([0], cuts, [len(day)]))
        for i in range(len(bounds) - 1):
            pq.write_table(self.table(slice(bounds[i], bounds[i + 1])), os.path.join(directory, f"day={i:03d}.parquet"))
        return directory


def make_tape(seed: int, n_ticks: int, n_symbols: int, n_days: int) -> Tape:
    """Generate the tape; the same arguments always give the same tape."""
    rng = np.random.default_rng(seed)
    symbols = [f"S{i:03d}" for i in range(n_symbols)]
    base_us = int((_START - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    per_part = rng.multinomial(n_ticks, np.full(n_symbols * n_days, 1.0 / (n_symbols * n_days)))
    per_part = per_part.reshape(n_symbols, n_days)

    ts_parts, px_parts, sym_parts = [], [], []
    for s in range(n_symbols):
        counts = per_part[s]
        total = int(counts.sum())
        steps = rng.normal(0.0, _TICK_SIGMA, size=total)
        steps[0] = 0.0
        p0 = rng.uniform(50.0, 150.0)
        px_parts.append(np.maximum(np.round(p0 * np.exp(np.cumsum(steps)), 2), 0.01))
        for d, k in enumerate(counts.tolist()):
            # k distinct sorted offsets: sorted draws from a shrunk range
            # plus 0..k-1 are strictly increasing.
            offs = np.sort(rng.integers(0, _SESSION_US - k, size=k)) + np.arange(k)
            ts_parts.append(base_us + d * _DAY_US + _SESSION_OPEN_US + offs)
        sym_parts.append(np.full(total, s, dtype=np.int32))

    ts = np.concatenate(ts_parts).astype(np.int64)
    price = np.concatenate(px_parts)
    sym = np.concatenate(sym_parts)
    size = (rng.geometric(0.2, size=len(ts)) * _LOT).astype(np.int64)
    order = np.lexsort((sym, ts))  # time-ordered across symbols
    return Tape(ts[order], price[order], size[order], sym[order], symbols, n_days)
