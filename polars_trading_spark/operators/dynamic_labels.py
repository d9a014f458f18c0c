"""Dynamic (path-dependent) labels: daily volatility targets, vertical
barriers, profit-take/stop-loss first touches, triple-barrier labels.

Reference: polars_trading/labels/dynamic_labels.py.  ``daily_vol`` and
``get_vertical_barrier_by_timedelta`` are ports; the reference left
``apply_profit_taking_stop_loss`` unfinished (ends at a TODO,
dynamic_labels.py:170) and ``get_triple_barrier_label`` as a docstring
stub (:173-186) — we complete both, with first-touch semantics from the
AFML pandas oracle (reference _testing/labels.py:17-33, AFML pg. 45;
note that oracle's ``df0 < pt`` line is a transcription bug — profit
takes trigger on the path return EXCEEDING the target, which is what
both AFML and our implementation use).

Scale design: ``get_triple_barrier_label`` builds its events in one
pass over the trades — ``_with_daily_vol`` and ``_with_vertical_barrier``
append the volatility target and the barrier (each an as-of against the
base trades), with no join back on (ts, symbol) and no Spark job while
the frame is built.  The first-touch scan is then an ``interval_join``:
an equi-join on (symbol, horizon bucket) with the range condition as a
post-filter — the bucket explosion bounds fan-out to the barrier horizon
instead of a per-symbol cross product, so the join stays
shuffle-hash/SMJ at 100 TB.
"""

from __future__ import annotations

from datetime import timedelta
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_trading_spark._utils import SEQ_COL, duration_micros, with_seq
from polars_trading_spark.config import column_names
from polars_trading_spark.operators.asof import asof_join
from polars_trading_spark.operators.ewm import ewm_std
from polars_trading_spark.operators.interval import interval_join

__all__ = [
    "daily_vol",
    "get_vertical_barrier_by_timedelta",
    "apply_profit_taking_stop_loss",
    "get_triple_barrier_label",
]


def _by(df: DataFrame) -> list[str]:
    return [column_names.symbol] if column_names.symbol in df.columns else []


def _with_daily_vol(df: DataFrame, trades: DataFrame, span: int, by: list[str]) -> DataFrame:
    """Append ``daily_return_volatility`` to ``df``: a backward as-of
    of ``ts - 24h`` against ``trades`` (both carry ``SEQ_COL``),
    then the native EWM std of the lookback returns.

    ``trades`` is the base frame, never the growing ``df``: as the
    right side of the as-of it must not drag the caller's lineage in.
    """
    ts, price = column_names.timestamp, column_names.price
    left = df.withColumn("__lookback", F.col(ts) - F.expr("INTERVAL 24 HOURS"))
    # SEQ_COL orders tied trades: the lookback price is the LAST trade
    # at-or-before ts - 24h in frame order, as in Polars.
    right = trades.select(*by, ts, SEQ_COL, F.col(price).alias("__lookback_price"))
    joined = asof_join(
        left,
        right,
        left_on="__lookback",
        right_on=ts,
        by=by or None,
        strategy="backward",
    )
    # Key, order and value columns lead (the standalone operator's
    # projection), then the rest of ``df``; the as-of's scratch columns
    # and its matched ``<ts>_right`` key fall away here.
    returns = joined.select(
        *by,
        ts,
        SEQ_COL,
        (F.col(price) / F.col("__lookback_price") - 1).alias("return"),
        *[c for c in df.columns if c not in (*by, ts, SEQ_COL, "return")],
    )
    vol = ewm_std(
        returns,
        "return",
        span,
        by=by,
        order_by=[ts, SEQ_COL],
        output_col="__ewm",
        method="native",
    )
    return vol.withColumn(
        "daily_return_volatility",
        F.when(F.col("return").isNotNull(), F.coalesce(F.col("__ewm"), F.lit(0.0))),
    ).drop("return", "__ewm")


def _with_vertical_barrier(
    df: DataFrame, trades: DataFrame, offset: str | timedelta, by: list[str]
) -> DataFrame:
    """Append ``vertical_barrier`` to ``df``: the first ``trades``
    timestamp at-or-after ``ts + offset`` (forward as-of).  ``trades``
    is the base frame, as in ``_with_daily_vol``."""
    ts = column_names.timestamp
    interval = F.expr(f"INTERVAL {duration_micros(offset)} MICROSECOND")
    # Key columns lead, as in the standalone operator's projection; an
    # existing ``vertical_barrier`` is replaced, not suffixed.
    offsets = df.select(
        *by,
        ts,
        *[c for c in df.columns if c not in (*by, ts, "vertical_barrier")],
        (F.col(ts) + interval).alias("__offset"),
    )
    right = trades.select(*by, F.col(ts).alias("vertical_barrier"))
    out = asof_join(
        offsets,
        right,
        left_on="__offset",
        right_on="vertical_barrier",
        by=by or None,
        strategy="forward",
    )
    return out.drop("__offset")


def daily_vol(df: DataFrame, *, span: int = 100) -> DataFrame:
    """EWM std of ~24h lookback returns (reference dynamic_labels.py:14-86).

    For each row, the lookback price is the last trade at-or-before
    ``ts - 24h`` (backward as-of join, per symbol when a symbol column is
    present; among tied trades the last in frame order); the return
    series' exponentially-weighted std (bias corrected,
    span-parameterized) is the volatility target, computed natively by
    ``ewm_std(method="native")``.

    Rows without a lookback match (the first 24h per symbol) yield NULL;
    the first matched row yields 0.0 (Polars emits 0.0 for the undefined
    single-observation std — pinned by the reference golden test
    tests/labels/test_dynamic_labels.py:65-107).
    """
    by = _by(df)
    df = with_seq(df)
    return _with_daily_vol(df, df, span, by).select(
        column_names.timestamp, *by, "daily_return_volatility"
    )


def get_vertical_barrier_by_timedelta(
    df: DataFrame, offset: str | timedelta, *, keep_cols: Sequence[str] = ()
) -> DataFrame:
    """First observed timestamp at-or-after ``ts + offset`` per symbol
    (reference dynamic_labels.py:89-145; inclusive-forward as-of,
    semantics pinned by the reference's golden tests
    tests/labels/test_dynamic_labels.py:109-237).

    ``keep_cols`` passes extra input columns through the as-of
    unchanged — the union-window join carries left columns for free, so
    annotating an already-joined frame costs no extra shuffle (vs
    joining the (ts, barrier) result back on the timestamp).
    """
    by = _by(df)
    return _with_vertical_barrier(df, df, offset, by).select(
        *by, column_names.timestamp, *keep_cols, "vertical_barrier"
    )


def apply_profit_taking_stop_loss(
    events: DataFrame,
    prices: DataFrame,
    *,
    target_col: str = "trgt",
    vertical_barrier_col: str | None = "vertical_barrier",
    profit_take: float | None = 1.0,
    stop_loss: float | None = 1.0,
    side_col: str | None = None,
    bucket: str | timedelta = "1d",
) -> DataFrame:
    """Earliest path timestamps crossing ±(pt/sl)·target (completes
    reference dynamic_labels.py:148-170; semantics per AFML pg. 45).

    ``events`` needs (symbol?, ts, price, target, vertical_barrier?);
    ``prices`` is the trades table.  A null/missing vertical barrier is
    filled with the last timestamp per symbol (reference :166-168).
    Returns the events plus ``pt_time`` / ``sl_time`` (null = never
    crossed before the barrier).

    The scan is an ``interval_join`` of the path against the event
    windows: it joins on (symbol, floor(epoch / bucket)) with the
    ``[t0, t1]`` range as a filter — each event explodes to the buckets
    its window covers, keeping join fan-out proportional to the barrier
    horizon instead of a per-symbol cross product.  Size ``bucket`` to
    the typical horizon: a bucket much wider than the horizon joins path
    rows that the range filter discards (with a 4h horizon, "4h" buckets
    measured ~3× fewer joined rows than "1d"), while much narrower
    buckets explode gap-spanning events into many pieces.
    """
    ts, price = column_names.timestamp, column_names.price
    by = _by(events)

    events = with_seq(events)
    pt = F.lit(float(profit_take)) * F.col(target_col) if profit_take else F.lit(None)
    sl = F.lit(-float(stop_loss)) * F.col(target_col) if stop_loss else F.lit(None)

    t1 = (
        F.coalesce(F.col(vertical_barrier_col), F.max(ts).over(Window.partitionBy(*(by or [F.lit(1)]))))
        if vertical_barrier_col is not None and vertical_barrier_col in events.columns
        else F.max(ts).over(Window.partitionBy(*(by or [F.lit(1)])))
    )
    ev = events.select(
        *by,
        F.col(ts).alias("__t0"),
        F.col(SEQ_COL).alias("__event_id"),
        F.col(price).alias("__entry"),
        (F.col(side_col) if side_col else F.lit(1.0)).cast("double").alias("__side"),
        pt.cast("double").alias("__pt"),
        sl.cast("double").alias("__sl"),
        t1.alias("__t1"),
    )
    path = prices.select(*by, F.col(ts).alias("__pts"), F.col(price).alias("__pp"))
    joined = interval_join(
        path, ev, point_on="__pts", start_on="__t0", end_on="__t1", by=by, bucket=bucket
    )
    ret = (F.col("__pp") / F.col("__entry") - 1) * F.col("__side")
    # Keep this aggregate to cheap min(when(...)) forms only: its input
    # is the event×path fan-out (the big relation in the pipeline), so
    # every extra per-row expression here is multiplied by the horizon.
    # Touch PRICES are resolved by a separate tiny aggregate over the
    # trades table in the caller — measured 2× faster than fusing
    # conditional min_by(struct) lookups into this aggregate.
    touched = joined.groupBy("__event_id", *by).agg(
        F.first("__t0").alias("__t0"),
        F.first("__t1").alias("__t1"),
        F.first("__entry").alias("__entry"),
        F.first("__side").alias("__side"),
        F.min(F.when(ret > F.col("__pt"), F.col("__pts"))).alias("pt_time"),
        F.min(F.when(ret < F.col("__sl"), F.col("__pts"))).alias("sl_time"),
    )
    return (
        touched.withColumnRenamed("__t0", ts)
        .withColumnRenamed("__t1", "t1")
        .withColumnRenamed("__entry", price)
        .withColumnRenamed("__side", "side")
        .withColumnRenamed("__event_id", SEQ_COL)
    )


def get_triple_barrier_label(
    trades: DataFrame,
    *,
    span: int = 100,
    barrier_offset: str | timedelta = "1d",
    profit_take: float = 1.0,
    stop_loss: float = 1.0,
    label_style: str = "three_class",
    side_col: str | None = None,
) -> DataFrame:
    """The flagship end-to-end pipeline (completes the reference stub,
    dynamic_labels.py:173-186): volatility target → vertical barrier →
    first touch → label.

    Output: (symbol?, timestamp, touch_timestamp, [side,] return, label)
    with label ∈ {1, 0, -1} (``three_class``: which barrier touched
    first), {1, -1} (``sign_on_vertical``: sign of the return when the
    vertical barrier is hit first), or {1, 0} (``meta``: act / pass on a
    known bet side — AFML ch. 3.6 meta-labeling).  Events are rows with
    a defined volatility target; the touch return is measured at the
    touch timestamp's trade price.

    ``side_col`` names a ±1 column on ``trades`` giving the primary
    model's bet side.  When set, path returns are side-adjusted before
    barrier detection (profit-take = the *bet* moving up, matching the
    AFML oracle's ``(path/entry - 1) * side``, _testing/labels.py:28-33)
    and the output ``return`` is the realized bet return.  ``meta``
    labels then answer "should this bet have been taken": 1 exactly when
    the realized bet return is positive.
    """
    ts, price = column_names.timestamp, column_names.price
    by = _by(trades)

    if label_style == "meta" and side_col is None:
        raise ValueError("label_style='meta' requires side_col (the primary model's bet side)")
    if side_col is not None and side_col not in trades.columns:
        raise ValueError(f"side_col {side_col!r} not found in trades columns")

    trades = with_seq(trades)
    # One pipeline over the trades: both as-ofs append their column (each
    # against the base trades), so there is no join back on (ts, symbol)
    # and building the frame runs no Spark job.
    vol = _with_daily_vol(trades, trades, span, by).withColumnRenamed(
        "daily_return_volatility", "trgt"
    )
    events = _with_vertical_barrier(
        vol.where(F.col("trgt").isNotNull()), trades, barrier_offset, by
    )
    # Bucket the first-touch join by the barrier horizon (clamped to
    # [1h, 1d]): horizon-sized buckets join only path rows the range
    # filter can actually keep, and the 1h floor bounds the explode
    # count for events whose barrier lands after a session gap.
    bucket_us = min(max(duration_micros(barrier_offset), 3_600_000_000), 86_400_000_000)
    touched = apply_profit_taking_stop_loss(
        events,
        trades,
        target_col="trgt",
        vertical_barrier_col="vertical_barrier",
        profit_take=profit_take,
        stop_loss=stop_loss,
        side_col=side_col,
        bucket=timedelta(microseconds=bucket_us),
    )
    first_touch = F.least(
        F.coalesce(F.col("pt_time"), F.col("t1")),
        F.coalesce(F.col("sl_time"), F.col("t1")),
        F.col("t1"),
    )
    out = touched.withColumn("touch_timestamp", first_touch)

    touch_price = trades.groupBy(*by, F.col(ts).alias("touch_timestamp")).agg(
        F.min_by(F.col(price), F.struct(F.col(ts), F.col(SEQ_COL))).alias("__touch_price")
    )
    raw_ret = F.col("__touch_price") / F.col(price) - 1
    # With a known bet side the realized return is the side-adjusted one
    # (the `side` column comes back from apply_profit_taking_stop_loss).
    ret = (raw_ret * F.col("side")) if side_col is not None else raw_ret
    out = out.join(touch_price, on=[*by, "touch_timestamp"], how="left").withColumn(
        "return", ret
    )

    pt_hit = F.col("pt_time").isNotNull() & (F.col("pt_time") == F.col("touch_timestamp"))
    sl_hit = F.col("sl_time").isNotNull() & (F.col("sl_time") == F.col("touch_timestamp"))
    if label_style == "three_class":
        label = F.when(pt_hit, 1).when(sl_hit, -1).otherwise(0)
    elif label_style == "sign_on_vertical":
        label = F.when(pt_hit, 1).when(sl_hit, -1).otherwise(F.signum("return").cast("int"))
    elif label_style == "meta":
        label = F.when(F.col("return") > 0, 1).otherwise(0)
    else:
        raise ValueError(f"unknown label_style {label_style!r}")

    side_out = [F.col("side")] if side_col is not None else []
    return out.select(
        *by,
        F.col(ts).alias("timestamp"),
        "touch_timestamp",
        *side_out,
        "return",
        label.cast("int").alias("label"),
    )
