"""Imbalance bars: tick / volume / dollar (AFML 2.3.2).

The reference's bar family is activity-clocked (time / tick count /
volume / dollars, polars_trading/bars.py); AFML's next step samples on
**order-flow imbalance**: give each trade a tick-rule sign ``b_t``
(sign of the last non-zero price change) and close a bar whenever the
running signed sum ``theta = sum(b_t * w_t)`` leaves ``[-h, +h]``, where
``w_t`` is 1 (tick), ``size`` (volume) or ``size * price`` (dollar).
Imbalance bars arrive faster when flow is one-sided — the sampling
clock AFML argues synchronizes with information arrival.

This implementation uses a **static threshold** ``h`` (the
EWMA-adaptive variant is a different operator contract: its threshold
depends on previously emitted bars, making results initialization-
sensitive; static-h is the form with a clean differential oracle).

Scale design mirrors ``range_bars``/``cusum_filter``: the
reset-on-breach recursion is irreducibly sequential, so every clock
here is argument checks plus one ``_scan_bars`` call (operators/bars.py)
— a slim ``applyInPandas`` island per (symbol, date) that only assigns
``bar_id`` per row — inside, the scan is chunked-closed-form
(cumulative sums + first-crossing argmax, O(n + bars * chunk) numpy, no
per-row Python). The OHLCV reduction stays NATIVE: one hash aggregate
over (symbol, date, bar_id) with the shared ``min_by/max_by`` bundle,
whose order key follows the source's ``declare_unique_timestamps``
declaration, so the whole operator is one shuffle + one Arrow round
trip of five slim columns. Day boundaries bound island memory and give
the 100 TB partitioning axis; sign state intentionally resets daily
(documented contract, same as the reference's ``split_by_date`` bars).
A null ``size`` weighs 0 in the volume and dollar flows, as in the
streaming replay.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from polars_trading_spark.operators.bars import _scan_bars

__all__ = ["imbalance_bars", "imbalance_bars_adaptive", "run_bars"]

_CHUNK = 4096
_MODES = ("tick", "volume", "dollar")


def _tick_signs(prices: np.ndarray) -> np.ndarray:
    """Tick-rule signs: sign of the last non-zero price change; rows
    before the first change (including the seed row) get 0."""
    n = prices.size
    b = np.zeros(n, dtype=np.float64)
    if n < 2:
        return b
    s = np.sign(np.diff(prices))
    idx = np.arange(1, n)
    last = np.maximum.accumulate(np.where(s != 0.0, idx, 0))
    b[1:] = np.where(last > 0, s[np.maximum(last - 1, 0)], 0.0)
    return b


def _signed_flow(prices: np.ndarray, sizes: np.ndarray, mode: str) -> np.ndarray:
    """Per-row signed flow ``b_t * w_t``: the tick-rule sign weighted by
    1 (tick), size (volume) or size * price (dollar).  A null size
    (NaN from Arrow) weighs 0, so it cannot poison the running sums."""
    b = _tick_signs(prices)
    if mode == "tick":
        return b
    w = b * np.where(np.isnan(sizes), 0.0, sizes)
    return w if mode == "volume" else w * prices


def _imbalance_scan(
    w: np.ndarray, h: float, theta0: float = 0.0
) -> tuple[np.ndarray, float, int]:
    """(bar id per row, final open-bar theta, number of bars closed):
    theta accumulates w, a bar closes (inclusive) on the row where
    |theta| >= h, then theta resets.  ``theta0`` seeds the scan so
    streaming micro-batches resume exactly where the previous one left
    off; ids < the closed count are final, the id == closed count (only
    ever the trailing segment) is the still-open bar.

    Chunked closed form: within a chunk theta is theta0 + cumsum(w), so
    the next close is the first index where |theta0 + C| >= h — argmax
    over a boolean, no per-row Python. O(n + bars * chunk) total.
    """
    n = w.size
    ids = np.empty(n, dtype=np.int64)
    gid, i = 0, 0
    while i < n:
        j = min(n, i + _CHUNK)
        vals = theta0 + np.cumsum(w[i:j])
        hit = np.abs(vals) >= h
        if not hit.any():
            ids[i:j] = gid
            theta0 = float(vals[-1])
            i = j
            continue
        t = int(np.argmax(hit))
        ids[i : i + t + 1] = gid
        gid += 1
        theta0 = 0.0
        i = i + t + 1
    return ids, theta0, gid


def imbalance_bars(
    df: DataFrame,
    *,
    threshold: float,
    mode: str = "tick",
    split_by_date: bool = True,
) -> DataFrame:
    """OHLCV bars clocked by tick-rule order-flow imbalance.

    ``mode``: ``tick`` (w=b), ``volume`` (w=b*size), ``dollar``
    (w=b*size*price).  The breaching trade closes its bar inclusively;
    the final partial bar per partition is emitted.
    """
    if mode not in _MODES:
        raise ValueError(f"mode must be one of {_MODES}, got {mode!r}")
    if threshold <= 0:
        raise ValueError(f"threshold must be positive, got {threshold}")
    h = float(threshold)
    return _scan_bars(
        df, split_by_date, lambda p, s: _imbalance_scan(_signed_flow(p, s, mode), h)[0]
    )


def _run_scan(
    w: np.ndarray, h: float, p0: float = 0.0, n0: float = 0.0
) -> tuple[np.ndarray, float, float, int]:
    """(bar id per row, final open-bar pos, final open-bar neg, bars
    closed) for RUN bars: buy and sell flow accumulate separately and a
    bar closes (inclusive) when max(pos, neg) >= h.  ``p0``/``n0`` seed
    the scan so streaming micro-batches resume exactly where the
    previous one left off (mirrors ``_imbalance_scan``'s contract).

    Both accumulators are monotone within a bar, so inside a chunk the
    close is the first index where max(p0 + cumsum(w+), n0 + cumsum(w-))
    crosses — same chunked closed form as the imbalance scan.
    """
    n = w.size
    ids = np.empty(n, dtype=np.int64)
    gid, i = 0, 0
    pos_w = np.maximum(w, 0.0)
    neg_w = -np.minimum(w, 0.0)
    while i < n:
        j = min(n, i + _CHUNK)
        p = p0 + np.cumsum(pos_w[i:j])
        q = n0 + np.cumsum(neg_w[i:j])
        hit = np.maximum(p, q) >= h
        if not hit.any():
            ids[i:j] = gid
            p0, n0 = float(p[-1]), float(q[-1])
            i = j
            continue
        t = int(np.argmax(hit))
        ids[i : i + t + 1] = gid
        gid += 1
        p0 = n0 = 0.0
        i = i + t + 1
    return ids, p0, n0, gid


def run_bars(
    df: DataFrame,
    *,
    threshold: float,
    mode: str = "tick",
    split_by_date: bool = True,
) -> DataFrame:
    """OHLCV bars clocked by one-sided order-flow runs (AFML 2.3.2.2).

    Like ``imbalance_bars`` but the clock fires when EITHER side's
    accumulated flow max(sum of buys, sum of sells) breaches the
    threshold — sampling accelerates under persistent one-sided runs
    even when the net imbalance cancels.  Same static-threshold
    contract, same slim applyInPandas island + native OHLCV shape.
    """
    if mode not in _MODES:
        raise ValueError(f"mode must be one of {_MODES}, got {mode!r}")
    if threshold <= 0:
        raise ValueError(f"threshold must be positive, got {threshold}")
    h = float(threshold)
    return _scan_bars(df, split_by_date, lambda p, s: _run_scan(_signed_flow(p, s, mode), h)[0])


def _adaptive_scan(
    w: np.ndarray, ew: np.ndarray, t0: int, alpha_t: float
) -> np.ndarray:
    """Bar ids for EWMA-adaptive imbalance bars.

    Per-row threshold is ``E[T] * |ew_t|`` where ``ew`` is the
    (precomputed, C-vectorized) row EWMA of w and ``E[T]`` is the EWMA
    of realized bar lengths, seeded at ``t0`` and updated once per
    closed bar.  Same chunked closed form as ``_imbalance_scan``: the
    threshold is elementwise over the precomputed ``ew`` and ``E[T]``
    only changes at a close, so within a chunk the crossing test is
    ``|theta0 + cumsum(chunk)| >= e_t * |ew[chunk]|`` — O(n + bars *
    chunk) total, never a rescan of the remaining suffix.
    """
    n = w.size
    ids = np.empty(n, dtype=np.int64)
    e_t = float(t0)
    gid, i, bar_start = 0, 0, 0
    theta0 = 0.0
    abs_ew = np.abs(ew)
    while i < n:
        j = min(n, i + _CHUNK)
        vals = theta0 + np.cumsum(w[i:j])
        hit = np.abs(vals) >= e_t * abs_ew[i:j]
        if not hit.any():
            ids[i:j] = gid
            theta0 = float(vals[-1])
            i = j
            continue
        t = int(np.argmax(hit))
        close = i + t
        ids[i : close + 1] = gid
        gid += 1
        e_t = (1.0 - alpha_t) * e_t + alpha_t * float(close + 1 - bar_start)
        bar_start = close + 1
        theta0 = 0.0
        i = close + 1
    return ids


def imbalance_bars_adaptive(
    df: DataFrame,
    *,
    init_expected_ticks: int = 100,
    alpha_ticks: float = 0.1,
    alpha_flow: float = 0.05,
    mode: str = "tick",
    split_by_date: bool = True,
) -> DataFrame:
    """EWMA-adaptive imbalance bars — the full AFML 2.3.2.1 form.

    The closing threshold adapts to the market: a bar closes when
    ``|theta| >= E[T] * |E[w]|`` where ``E[T]`` is an EWMA of realized
    bar tick counts (seeded at ``init_expected_ticks``, smoothed by
    ``alpha_ticks``) and ``E[w]`` an EWMA of the signed flow per tick
    (``alpha_flow``, pandas ``adjust=False`` semantics).  Results are
    initialization-sensitive by construction (every published
    implementation differs in its warm-up), so this operator is gated
    rows-only by the driver; the static-threshold ``imbalance_bars``
    carries the differential oracle.

    Dataflow is identical to ``imbalance_bars``: slim per-(symbol, date)
    island assigning bar ids (row EWMA via pandas' C kernel, bar scan
    looping once per bar), native OHLCV reduction.
    """
    if mode not in _MODES:
        raise ValueError(f"mode must be one of {_MODES}, got {mode!r}")
    if init_expected_ticks < 1:
        raise ValueError(f"init_expected_ticks must be >= 1, got {init_expected_ticks}")
    for name, a in (("alpha_ticks", alpha_ticks), ("alpha_flow", alpha_flow)):
        if not (0.0 < a <= 1.0):
            raise ValueError(f"{name} must be in (0, 1], got {a}")

    t0, a_t, a_w = int(init_expected_ticks), float(alpha_ticks), float(alpha_flow)

    def assign_ids(p: np.ndarray, s: np.ndarray) -> np.ndarray:
        w = _signed_flow(p, s, mode)
        ew = pd.Series(w).ewm(alpha=a_w, adjust=False).mean().to_numpy()
        return _adaptive_scan(w, ew, t0, a_t)

    return _scan_bars(df, split_by_date, assign_ids)
