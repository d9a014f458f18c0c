"""Bar sampling operators: time / tick / volume / dollar bars.

Re-expresses the reference's bar pipeline (polars_trading/bars.py:91-316
plus the Rust ``bar_groups`` kernel, src/bars.rs:10-159) Spark-first:

* ``time_bars``   — epoch-aligned bucket + hash aggregate. One shuffle.
* ``tick_bars``   — ``row_number`` window + hash aggregate. Two exchanges
  (window partition then group-by), both on the same symbol/date keys so
  AQE coalesces them.
* ``volume_bars`` — the reference runs a sequential Rust scan
  (src/bars.rs:10-71, split mode).  Split-mode bar assignment is actually
  closed-form in the cumulative volume — every bar closes at an exact
  multiple of ``bar_size`` — so we compute it entirely with window
  arithmetic + ``posexplode(sequence(...))`` and never leave codegen.
  This is the same math as the reference's own pandas oracle
  (tests/testing_utils/pd_bars_helpers.py:227-267).
* ``dollar_bars`` — the reference explodes every trade into ``size`` unit
  rows and runs the kernel in overflow mode (polars_trading/bars.py:288-316).
  Overflow boundaries are history-dependent (the running sum resets on
  breach, src/bars.rs:53-65) so this is genuinely sequential — but only
  *within* a (symbol, date) partition.  We compute identical
  share-granularity semantics inside one ``applyInPandas`` pass per
  partition WITHOUT materializing the unit explosion (which would
  multiply row count by share count — a non-starter at 100 TB).

Every bar clock has one shape: ``_bar_input`` prepares the trades
(null prices dropped, ``SEQ_COL`` tiebreaker, optional date split,
order key), a clock assigns a bar id per row, and ``ohlcv_aggs``
reduces each bar natively.  Clocks whose reset-on-breach recursion is
sequential (range here, imbalance/run in ``imbalance.py``) share
``_scan_bars``: one slim ``applyInPandas`` island per (symbol[, date])
runs the clock's numpy scan, then the native aggregate.

The OHLCV order key is a declaration made by the source, not a switch:
when the source declared per-group-unique timestamps
(``declare_unique_timestamps``) open/close use a scalar ``unix_micros``
key and plan as HashAggregate; otherwise they use the ``(ts, seq)``
struct key, which plans as SortAggregate but breaks timestamp ties
deterministically.

Scale notes: every operator shuffles exactly once on its natural key
(symbol[, date] / bucket); pre-partitioning the source Parquet by
symbol/date makes these map-side. No global sorts anywhere — ordered
semantics are carried by ``min_by/max_by`` order keys, not physical row
order.
"""

from __future__ import annotations

import math
from typing import Callable, NamedTuple, Sequence

import numpy as np

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polars_trading_spark._utils import (
    SEQ_COL,
    bar_output_columns,
    has_unique_timestamps,
    ohlcv_aggs,
    truncate,
    with_seq,
)
from polars_trading_spark.config import column_names

__all__ = ["time_bars", "tick_bars", "volume_bars", "dollar_bars", "range_bars", "bar_groups"]

BAR_ID = "bar_group__id"
BAR_AMOUNT = "bar_group__amount"
_DATE = "__pts_date"


def _final_bar_select(df: DataFrame, symbol: str, ts: str, extra: Sequence[str] = ()) -> DataFrame:
    """Apply the typed output contract (reference: bars.py:11-34)."""
    casts = {
        symbol: "string",
        f"{ts}_start": "timestamp",
        f"{ts}_end": "timestamp",
        "open": "double",
        "high": "double",
        "low": "double",
        "close": "double",
        "volume": "long",
        "vwap": "double",
        "n_trades": "int",
    }
    cols = list(extra) + bar_output_columns(symbol, ts)
    return df.select(*[F.col(c).cast(casts[c]).alias(c) if c in casts else F.col(c) for c in cols])


class _BarInput(NamedTuple):
    """Trades ready for a bar clock, plus the configured column names."""

    df: DataFrame
    keys: list[str]  # symbol[, date]: the partition a clock runs in
    ts: str
    price: str
    size: str
    symbol: str
    unique_ts: bool  # the source declared per-group-unique timestamps

    def ohlcv(self, size: str | Column | None = None) -> list[Column]:
        """``ohlcv_aggs`` with the order key the source's declaration picks."""
        return ohlcv_aggs(
            self.ts, self.price, self.size if size is None else size, unique_ts=self.unique_ts
        )


def _bar_input(df: DataFrame, split_by_date: bool) -> _BarInput:
    """The input preparation every bar clock shares: drop null prices,
    attach the ``SEQ_COL`` tiebreaker, add the date split, and choose
    the OHLCV order key from the source's ``declare_unique_timestamps``
    metadata."""
    ts, price, size, symbol = (
        column_names.timestamp,
        column_names.price,
        column_names.size,
        column_names.symbol,
    )
    keys = [symbol]
    out = with_seq(df.na.drop(subset=[price]))
    if split_by_date:
        out = out.withColumn(_DATE, F.to_date(ts))
        keys.append(_DATE)
    return _BarInput(out, keys, ts, price, size, symbol, has_unique_timestamps(df, ts))


def _scan_bars(
    df: DataFrame,
    split_by_date: bool,
    assign_ids: Callable[[np.ndarray, np.ndarray], np.ndarray],
) -> DataFrame:
    """OHLCV bars whose ids come from a sequential numpy scan.

    ``assign_ids(prices, sizes)`` gets one (symbol[, date]) partition's
    float64 arrays in ``(ts, seq)`` order (a null size arrives as NaN)
    and returns a bar id per row.  It runs in a slim ``applyInPandas``
    island that ships only the key, order, price and size columns; the
    OHLCV reduction is one native aggregate over (keys, bar_id).
    """
    src = _bar_input(df, split_by_date)
    ts, price, size = src.ts, src.price, src.size
    slim = src.df.select(*src.keys, ts, SEQ_COL, price, size)
    schema = slim.withColumn("bar_id", F.lit(0).cast("long")).schema

    def assign(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts, SEQ_COL], kind="mergesort").reset_index(drop=True)
        p = pdf[price].to_numpy(dtype=np.float64)
        s = pdf[size].to_numpy(dtype=np.float64)
        pdf["bar_id"] = assign_ids(p, s)
        return pdf

    assigned = slim.groupBy(*src.keys).applyInPandas(assign, schema=schema)
    bars = assigned.groupBy(*src.keys, "bar_id").agg(*src.ohlcv())
    return _final_bar_select(bars, src.symbol, ts)


def time_bars(df: DataFrame, *, bar_size: str = "1m") -> DataFrame:
    """OHLCV bars over fixed time buckets (reference: bars.py:91-139).

    ``bar_size`` uses Polars duration grammar (``1s/2m/3h/4d/5w``,
    compounds like ``"1h30m"`` allowed). The bucket timestamp keeps the
    configured timestamp column's name, matching the reference's rename.
    """
    src = _bar_input(df, split_by_date=False)
    out = (
        src.df.withColumn("__bucket", truncate(src.ts, bar_size))
        .groupBy("__bucket", src.symbol)
        .agg(*src.ohlcv())
        .withColumnRenamed("__bucket", src.ts)
    )
    return _final_bar_select(out, src.symbol, src.ts, extra=[src.ts])


def tick_bars(df: DataFrame, *, bar_size: int = 100, split_by_date: bool = True) -> DataFrame:
    """OHLCV bars over fixed trade counts (reference: bars.py:142-191).

    Bar membership is ``(row_number - 1) // bar_size`` per symbol (and per
    date when ``split_by_date``), with ``(ts, seq)`` as the deterministic
    order key.
    """
    src = _bar_input(df, split_by_date)
    w = Window.partitionBy(*src.keys).orderBy(src.ts, SEQ_COL)
    out = (
        src.df.withColumn("__tick_group", F.floor((F.row_number().over(w) - 1) / F.lit(bar_size)))
        .groupBy("__tick_group", *src.keys)
        .agg(*src.ohlcv())
    )
    return _final_bar_select(out, src.symbol, src.ts)


def bar_groups(
    df: DataFrame,
    value_col: str,
    bar_size: float,
    *,
    allow_splits: bool = True,
    partition_by: Sequence[str] = (),
    order_by: Sequence[str] = (),
) -> DataFrame:
    """Assign rows to cumulative-sum buckets of ``bar_size``.

    Semantics match the reference kernel ``compute_bar_groups``
    (src/bars.rs:10-71) exactly — verified against its unit vectors in
    tests/test_bar_groups.py:

    * ``allow_splits=True``: a row whose value straddles a bar boundary is
      split into one piece per bar, so every bar (except the last) sums to
      exactly ``bar_size``.  For integral value columns with an integral
      ``bar_size`` this is closed-form: with cumulative sum ``cs`` and
      ``prev = cs - value``, the row spans bars ``floor(prev/B)`` through
      ``ceil(cs/B) - 1``, and its piece in bar ``b`` has amount
      ``min(cs, (b+1)B) - max(prev, bB)`` — all codegen, no Python.
      Float values (or fractional bar sizes) fall back to a sequential
      per-partition scan mirroring the kernel's float behavior, because
      the exact-boundary test is not float-stable in closed form.
    * ``allow_splits=False``: whole rows accumulate until the running sum
      breaches ``bar_size``, then the sum resets (overflow is discarded) —
      history-dependent, so it runs as one sequential pass per partition
      inside ``applyInPandas``.

    Rows with ``value <= 0`` produce no pieces in split mode (the kernel's
    ``while remaining > 0`` emits nothing for them).

    Returns the input columns plus ``bar_group__id`` (int, 0-based per
    partition) and ``bar_group__amount`` (the piece's share of the value).
    """
    if not (bar_size > 0):
        raise ValueError(f"bar_size must be positive, got {bar_size!r}")
    if not order_by:
        order_by = [SEQ_COL]
        df = with_seq(df)

    value_type = df.schema[value_col].dataType
    integral_values = isinstance(
        value_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    )
    if allow_splits and integral_values and float(bar_size) == int(bar_size):
        # Closed-form path — exact only because cumulative sums, the
        # boundary test (cs % B == 0) and the floor-division bucket
        # assignment are all integer arithmetic here.  Float value
        # columns (or fractional bar sizes) would make the boundary
        # branch unstable, so they take the sequential scan below that
        # mirrors the reference kernel's float behavior instead.
        w = (
            Window.partitionBy(*(partition_by or [F.lit(1)]))
            .orderBy(*order_by)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        v = F.col(value_col)
        b = F.lit(bar_size)
        cs = F.sum(v).over(w)
        out = (
            df.withColumn("__cs", cs)
            .withColumn("__prev", F.col("__cs") - v)
            .where(v > 0)
            .withColumn("__start", F.floor(F.col("__prev") / b).cast("long"))
            .withColumn(
                "__end",
                F.when((F.col("__cs") % b) == 0, (F.col("__cs") / b).cast("long") - 1)
                .otherwise(F.floor(F.col("__cs") / b).cast("long")),
            )
            .select(
                "*",
                F.posexplode(F.sequence(F.col("__start"), F.col("__end"))).alias("__pos", "__bar"),
            )
            .withColumn(BAR_ID, F.col("__bar").cast("int"))
            .withColumn(
                BAR_AMOUNT,
                (
                    F.least(F.col("__cs"), (F.col("__bar") + 1) * b)
                    - F.greatest(F.col("__prev"), F.col("__bar") * b)
                ).cast(df.schema[value_col].dataType),
            )
            .drop("__cs", "__prev", "__start", "__end", "__pos", "__bar")
        )
        return out

    # Sequential paths: overflow mode (history-dependent reset), and
    # split mode over float values / fractional bar sizes (the kernel's
    # float semantics, src/bars.rs:36-51, can't be reproduced with
    # closed-form float modulo arithmetic).  One pass per partition,
    # bounded state.
    drop_cols: list[str] = []
    if not partition_by:
        df = df.withColumn("__pts_one", F.lit(1))
        partition_by = ["__pts_one"]
        drop_cols = ["__pts_one"]
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(BAR_ID, T.IntegerType()), T.StructField(BAR_AMOUNT, value_type)]
    )
    order_cols = list(order_by)
    bar_size_f = float(bar_size)

    if allow_splits:

        def assign(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(drop=True)
            values = pdf[value_col].to_numpy(dtype=float)
            idx_out: list[int] = []
            gid_out: list[int] = []
            amt_out: list[float] = []
            current, gid = 0.0, 0
            for i, val in enumerate(values):
                remaining = val
                while remaining > 0:
                    if current + remaining >= bar_size_f:
                        take = bar_size_f - current
                        idx_out.append(i)
                        gid_out.append(gid)
                        amt_out.append(take)
                        gid += 1
                        current = 0.0
                        remaining -= take
                    else:
                        idx_out.append(i)
                        gid_out.append(gid)
                        amt_out.append(remaining)
                        current += remaining
                        remaining = 0.0
            out = pdf.iloc[idx_out].reset_index(drop=True)
            out[BAR_ID] = pd.array(gid_out, dtype="int32")
            out[BAR_AMOUNT] = pd.array(amt_out, dtype="float64")
            return out

    else:

        def assign(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(drop=True)
            values = pdf[value_col].to_numpy()
            ids = [0] * len(values)
            current, gid = 0.0, 0
            for i, val in enumerate(values):
                ids[i] = gid
                current += float(val)
                if current >= bar_size_f:
                    gid += 1
                    current = 0.0
            pdf[BAR_ID] = pd.array(ids, dtype="int32")
            pdf[BAR_AMOUNT] = pdf[value_col]
            return pdf

    out = df.groupBy(*partition_by).applyInPandas(assign, schema=out_schema)
    return out.drop(*drop_cols) if drop_cols else out


def volume_bars(df: DataFrame, *, bar_size: int = 10_000, split_by_date: bool = True) -> DataFrame:
    """OHLCV bars over fixed traded volume (reference: bars.py:194-244).

    A trade straddling a bar boundary is split across bars (split-mode
    ``bar_groups``), so every bar's volume is exactly ``bar_size`` except
    the last per partition.  Unlike the reference's sequential kernel this
    is pure window arithmetic — one shuffle for the cumulative-sum window,
    one for the final aggregate, both on (symbol[, date]).
    """
    src = _bar_input(df, split_by_date)
    pieces = bar_groups(
        src.df, src.size, bar_size, allow_splits=True, partition_by=src.keys, order_by=[src.ts, SEQ_COL]
    )
    out = pieces.groupBy(*src.keys, BAR_ID).agg(*src.ohlcv(F.col(BAR_AMOUNT)))
    return _final_bar_select(out, src.symbol, src.ts)


def dollar_bars(df: DataFrame, *, bar_size: float = 1_000_000.0, split_by_date: bool = True) -> DataFrame:
    """OHLCV bars over fixed traded dollar value (reference: bars.py:247-316).

    Reference semantics: explode each trade into ``size`` one-share rows,
    accumulate share dollar values, close a bar whenever the running sum
    reaches ``bar_size`` (overflow mode at share granularity — the bar
    keeps the whole breaching share and the remainder is discarded,
    src/bars.rs:53-65).  A trade therefore splits across bars on share
    boundaries.

    We reproduce this exactly without the explosion: within a
    (symbol, date) partition the running state is one float, and each
    trade's split into bars is computable in O(#bars it spans):
    the current bar takes ``ceil((bar_size - c) / price)`` shares, full
    bars take ``ceil(bar_size / price)`` shares, the remainder stays open.
    One ``applyInPandas`` pass per partition emits the finished bars
    directly (the per-bar OHLCV reduction happens in the same pass, so
    there is exactly one shuffle total).
    """
    src = _bar_input(df, split_by_date)
    ts, price, size, symbol = src.ts, src.price, src.size, src.symbol

    schema = T.StructType(
        [
            T.StructField(symbol, T.StringType()),
            T.StructField(f"{ts}_start", T.TimestampType()),
            T.StructField(f"{ts}_end", T.TimestampType()),
            T.StructField("open", T.DoubleType()),
            T.StructField("high", T.DoubleType()),
            T.StructField("low", T.DoubleType()),
            T.StructField("close", T.DoubleType()),
            T.StructField("volume", T.LongType()),
            T.StructField("vwap", T.DoubleType()),
            T.StructField("n_trades", T.IntegerType()),
        ]
    )
    bar_size_f = float(bar_size)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values([ts, SEQ_COL], kind="mergesort").reset_index(drop=True)
        if len(pdf) == 0:
            return pd.DataFrame(columns=[f.name for f in schema.fields])
        sym = pdf[symbol].iloc[0]
        prices = pdf[price].to_numpy(dtype=float)
        # A null size weighs 0 shares (as in imbalance's _signed_flow)
        # and is dropped with the other non-positive sizes below.
        sizes = pdf[size].fillna(0).to_numpy(dtype="int64")
        stamps = pdf[ts].to_numpy()

        keep = sizes > 0
        prices, sizes, stamps = prices[keep], sizes[keep], stamps[keep]
        m = len(prices)
        if m == 0:
            return pd.DataFrame(columns=[f.name for f in schema.fields])

        # Phase 1 — exact sequential state fold, O(1) per trade. The
        # per-trade transition is closed-form (entering balance -> bars
        # closed + exit balance); only the (c, gid) recurrence is
        # irreducibly sequential, and it must stay a scalar left fold so
        # the float op order matches the DuckDB oracle bit-for-bit.
        c_in = np.empty(m, dtype=np.float64)
        gid_in = np.empty(m, dtype=np.int64)
        c, gid = 0.0, 0
        ceil = math.ceil
        plist, nlist = prices.tolist(), sizes.tolist()
        for i in range(m):
            c_in[i] = c
            gid_in[i] = gid
            p = plist[i]
            if p <= 0.0:
                # Shares never close a bar; whole trade joins the open bar.
                continue
            n = nlist[i]
            need1 = ceil((bar_size_f - c) / p)
            if need1 > n:
                c += n * p
            else:
                rem = n - need1
                need_f = ceil(bar_size_f / p)
                kfull = rem // need_f
                c = (rem - kfull * need_f) * p
                gid += 1 + kfull

        # Phase 2 — vectorized piece fan-out. A closing trade emits
        # need1 shares into the entered bar, need_f per full bar, and the
        # remainder r into the newly opened bar; non-closing trades emit
        # one whole-trade piece.
        pos = prices > 0.0
        safe_p = np.where(pos, prices, 1.0)
        need1 = np.ceil((bar_size_f - c_in) / safe_p).astype(np.int64)
        need_f = np.ceil(bar_size_f / safe_p).astype(np.int64)
        closes = pos & (need1 <= sizes)
        rem = np.where(closes, sizes - need1, 0)
        kfull = rem // need_f
        r = rem - kfull * need_f
        counts = np.where(closes, 1 + kfull + (r > 0), 1)

        total = int(counts.sum())
        offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
        trade_idx = np.repeat(np.arange(m), counts)
        within = np.arange(total) - offsets[trade_idx]

        piece_bar = gid_in[trade_idx] + within
        piece_price = prices[trade_idx]
        piece_ts = stamps[trade_idx]
        piece_sh = need_f[trade_idx]
        first_sh = np.where(closes, need1, sizes)
        first_mask = within == 0
        piece_sh[first_mask] = first_sh[trade_idx[first_mask]]
        last_mask = (within > 0) & (within == (counts - 1)[trade_idx]) & (r[trade_idx] > 0)
        piece_sh[last_mask] = r[trade_idx[last_mask]]

        # Phase 3 — per-bar OHLCV over contiguous runs (piece_bar is
        # nondecreasing by construction, so bars are reduceat segments).
        change = np.flatnonzero(np.diff(piece_bar)) + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [total]))
        volume = np.add.reduceat(piece_sh, starts)
        dollars = np.add.reduceat(piece_sh * piece_price, starts)
        bars = pd.DataFrame(
            {
                symbol: sym,
                f"{ts}_start": piece_ts[starts],
                f"{ts}_end": piece_ts[ends - 1],
                "open": piece_price[starts],
                "high": np.maximum.reduceat(piece_price, starts),
                "low": np.minimum.reduceat(piece_price, starts),
                "close": piece_price[ends - 1],
                "volume": volume.astype("int64"),
                "vwap": dollars / volume,
                "n_trades": (ends - starts).astype("int32"),
            }
        )
        return bars

    return src.df.groupBy(*src.keys).applyInPandas(build, schema=schema)


def _range_scan(
    p: "np.ndarray", delta: float, o0: float | None = None
) -> tuple["np.ndarray", float | None, int]:
    """(bar id per row, open price of the trailing open bar or None,
    bars closed) for range bars: a bar closes (inclusive) on the first
    price at least ``delta`` away from its open.  ``o0`` seeds the open
    of a carried-over bar so streaming micro-batches resume exactly
    where the previous one left off (same contract as the imbalance/run
    scans).  Chunked |p - open| test — O(n + bars * chunk)."""
    from polars_trading_spark.operators.imbalance import _CHUNK

    n = p.size
    ids = np.empty(n, dtype=np.int64)
    gid, i = 0, 0
    cur_open = o0
    while i < n:
        o = cur_open if cur_open is not None else float(p[i])
        found = -1
        j = i
        while j < n:
            k = min(n, j + _CHUNK)
            hit = np.abs(p[j:k] - o) >= delta
            if hit.any():
                found = j + int(np.argmax(hit))
                break
            j = k
        if found < 0:
            ids[i:] = gid
            return ids, o, gid
        ids[i : found + 1] = gid
        gid += 1
        cur_open = None
        i = found + 1
    return ids, None, gid


def range_bars(df: DataFrame, range_size: float, *, split_by_date: bool = True) -> DataFrame:
    """Range bars: the price clock.  A bar closes (inclusively) on the
    first trade whose price has moved at least ``range_size`` away from
    the bar's opening price; the next trade opens a new bar.

    Completes the bar-family clocks next to time/tick/volume/dollar
    (activity clocks) and imbalance/run (information clocks): range
    bars sample by *price movement*, giving constant price resolution
    per bar — dense bars in volatile regimes, sparse in quiet ones
    (the classic constant-range chart, cf. AFML 2.3.1's discussion of
    alternative clocks).

    The reset-on-breach recursion is sequential, so bar ids come from
    the chunked ``_range_scan`` in the shared ``_scan_bars`` island —
    O(n + bars·chunk), same shape as ``imbalance_bars``.
    """
    if range_size <= 0:
        raise ValueError(f"range_size must be positive, got {range_size}")
    delta = float(range_size)
    return _scan_bars(df, split_by_date, lambda p, s: _range_scan(p, delta)[0])
