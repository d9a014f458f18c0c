"""AFML ch. 4 sample weights: label concurrency, average uniqueness,
return attribution, and time-decay scaling.

The reference library labels events with path-dependent barriers
(reference polars_trading/labels/dynamic_labels.py) but stops before
AFML's next step: weighting the resulting samples so that overlapping
labels — which share path information — don't dominate training.  These
operators complete that pipeline stage:

* ``label_concurrency`` — c_t: how many event intervals [t0, t1] cover
  each observed timestamp (AFML 4.3.1).
* ``average_uniqueness`` — per event, mean of 1/c_t over its own span
  (AFML 4.4.2): the sample weight that discounts overlap.
* ``return_attribution`` — per event, |Σ_{t ∈ (t0, t1]} r_t / c_t|
  (AFML 4.5.3): weight by the log return the label can uniquely claim.
* ``time_decay`` — rescale weights linearly on cumulative uniqueness so
  the oldest sample gets ``last_weight`` and the newest 1.0 (AFML 4.5.4).

Scale design: ONE sweep-line per symbol.  Each event adds three
boundary rows to its symbol's distinct path timestamps — +1 at t0, a
reader just after the t0 path row, -1 just after the t1 path row — and
running sums ordered by (t, kind) give c_t and the log return at every
path row, then the prefix sums Σ(1 - 1/c), Σ 1, Σ r/c and the count of
returns.  Each event reads its span sums as end row minus start row (or
minus reader row for the strictly-after-t0 attribution), so the whole
layer costs O(3·events + path) rows, one shuffle into one sorted
per-symbol window pass, and one aggregate on (symbol, t0) that reuses
its partitioning: no join, no fan-out, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_trading_spark._utils import SEQ_COL, has_unique_timestamps
from polars_trading_spark.config import column_names

__all__ = [
    "label_concurrency",
    "average_uniqueness",
    "return_attribution",
    "sample_weights",
    "time_decay",
]

# Sweep row kinds, in their sort order at one timestamp.
_START, _PATH, _READ, _END = 0, 1, 2, 3


def _sweep_window(by: list[str]) -> Window:
    return (
        Window.partitionBy(*(by or [F.lit(1)]))
        .orderBy("__pt", "__k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )


def _sweep(ev: DataFrame, path: DataFrame, by: list[str]) -> DataFrame:
    """The path rows and three boundary rows per event in one sweep,
    with the integer concurrency ``__c`` as a running sum.

    ``ev`` carries (by…, __t0, __t1); ``path`` (by…, __pt, extras).
    Each event emits, ordered by (``__pt``, ``__k``) among the path rows
    (kind ``_PATH``): +1 at t0 before the t0 path row (``_START``), a
    reader after it (``_READ``) and -1 after the t1 path row (``_END``),
    so both interval ends stay inclusive.  Boundary rows carry their
    event's ``__t0``; on a path row ``__c`` is c_t (0 when uncovered).
    One explode over ``ev`` emits all three, so the events are read once.
    """

    def bound(pt: str, kind: int, delta: int):
        return F.struct(
            F.col(pt).alias("__pt"), F.lit(kind).alias("__k"), F.lit(delta).alias("__d")
        )

    bounds = ev.select(
        *by,
        "__t0",
        F.explode(
            F.array(bound("__t0", _START, 1), bound("__t0", _READ, 0), bound("__t1", _END, -1))
        ).alias("__b"),
    ).select(*by, "__t0", "__b.*")
    pts = path.select("*", F.lit(_PATH).alias("__k"), F.lit(0).alias("__d"))
    return (
        bounds.unionByName(pts, allowMissingColumns=True)
        .withColumn("__c", F.sum("__d").over(_sweep_window(by)))
        .drop("__d")
    )


def _event_spans(events: DataFrame, t1_col: str, by: list[str]) -> DataFrame:
    """(by…, __t0, __t1) per event; a null ``t1_col`` is clamped to the
    last event timestamp of its group.  An event with a null t0 or with
    t1 < t0 covers nothing and is dropped (in the sweep its -1 would
    land before its +1 and undercount its neighbours)."""
    ts = column_names.timestamp
    last_ts = F.max(F.col(ts)).over(Window.partitionBy(*(by or [F.lit(1)])))
    return events.select(
        *by,
        F.col(ts).alias("__t0"),
        F.coalesce(F.col(t1_col).cast("timestamp"), last_ts).alias("__t1"),
    ).where(F.col("__t1") >= F.col("__t0"))


def _distinct_path(prices: DataFrame, by: list[str], ts: str) -> DataFrame:
    """Distinct observed timestamps (concurrency is defined per unique
    timestamp, not per trade).  Sources that declare per-group-unique
    timestamps (``declare_unique_timestamps``) skip the dedup shuffle."""
    path = prices.select(*by, F.col(ts).alias("__pt"))
    if not has_unique_timestamps(prices, ts):
        path = path.distinct()
    return path


def label_concurrency(
    events: DataFrame, prices: DataFrame, *, t1_col: str = "t1"
) -> DataFrame:
    """c_t per observed (symbol?, timestamp): the number of event
    intervals [ts, t1] containing it (AFML 4.3.1).

    ``events`` needs (symbol?, ts, t1); ``prices`` is the trades table.
    Returns (symbol?, timestamp, concurrency) for every observed
    timestamp covered by at least one event.
    """
    ts, symbol = column_names.timestamp, column_names.symbol
    by = [symbol] if symbol in events.columns else []
    path = _distinct_path(prices, by, ts)
    return (
        _sweep(_event_spans(events, t1_col, by), path, by)
        .where((F.col("__k") == _PATH) & (F.col("__c") > 0))
        .select(*by, F.col("__pt").alias(ts), F.col("__c").alias("concurrency"))
    )


def sample_weights(events: DataFrame, prices: DataFrame, *, t1_col: str = "t1") -> DataFrame:
    """Average uniqueness AND return attribution per event in one pass
    (AFML 4.4.2 + 4.5.3).

    ``events`` needs (symbol?, ts, t1); rows with a null ``t1`` are
    clamped to the last event timestamp per symbol (the same fill the
    pt/sl scan applies).  Output per event timestamp (events sharing a
    t0 pool their spans):

    * ``avg_uniqueness`` — mean over t ∈ [t0, t1] of 1/c_t, in (0, 1];
      1.0 exactly when the event overlaps nothing.
    * ``n_path`` — number of observed timestamps in the span; an event
      whose span holds none yields no row.
    * ``ret_attr`` — |Σ_{t ∈ (t0, t1]} log(p_t/p_{t-1}) / c_t|, the
      overlap-discounted absolute log return; NULL when the span holds
      no return observation (single-tick span).

    Both read prefix sums off the sweep (``_sweep``): the t0 row counts
    toward uniqueness (intervals are inclusive) while attribution sums
    strictly-after-t0 returns (the return at t0 belongs to the previous
    holding period), so uniqueness differences from the start row and
    attribution from the reader row.  Uniqueness is taken as
    1 - ΔΣ(1 - 1/c)/n: the overlap sum adds exact zeros outside
    overlaps, so it never exceeds 1 and is exactly 1.0 for a lone span.
    A prefix difference carries an absolute error of about
    ε × (path rows per symbol): 2e-12 at ten thousand rows.

    The return, the sweep windows and the final aggregate on (symbol,
    t0) share one per-symbol shuffle and sort; the layer holds no join.
    """
    ts, price, symbol = column_names.timestamp, column_names.price, column_names.symbol
    by = [symbol] if symbol in events.columns else []
    ev = _event_spans(events, t1_col, by)

    # One price per observed timestamp: multiple trades on one timestamp
    # resolve to the last by seq (the deterministic close-side pick used
    # across the bar operators).
    if has_unique_timestamps(prices, ts):
        path = prices.select(*by, F.col(ts).alias("__pt"), F.col(price).alias("__p"))
    else:
        order = F.struct(F.col(SEQ_COL)) if SEQ_COL in prices.columns else F.col(ts)
        path = prices.groupBy(*by, F.col(ts).alias("__pt")).agg(
            F.max_by(F.col(price), order).alias("__p")
        )

    # The log return at a path row reads the previous path row's price
    # off the sweep order (boundary rows carry none), so the return needs
    # no window of its own.  Uncovered path rows (c = 0) then belong to
    # no span; dropping them also keeps 1/c defined under ANSI division.
    w = _sweep_window(by)
    prev_p = F.last("__p", ignorenulls=True).over(w.rowsBetween(Window.unboundedPreceding, -1))
    on_path = F.col("__k") == _PATH
    swept = (
        _sweep(ev, path, by)
        .withColumn("__r", F.when(on_path, F.log(F.col("__p") / prev_p)))
        .where(~on_path | (F.col("__c") > 0))
    )
    r_c = F.when(on_path, F.col("__r") / F.col("__c"))
    prefix = swept.select(
        *by,
        "__t0",
        "__k",
        F.count(F.when(on_path, 1)).over(w).alias("__n"),
        F.sum(F.when(on_path, 1.0 - 1.0 / F.col("__c")).otherwise(0.0)).over(w).alias("__o"),
        F.sum(F.coalesce(r_c, F.lit(0.0))).over(w).alias("__ra"),
        F.count(r_c).over(w).alias("__rn"),
    ).where(~on_path)

    def span(col: str, since: int):
        # Sum each side before subtracting: every end prefix of the
        # overlap sum is >= its start prefix, so the difference cannot
        # round below zero and avg_uniqueness stays <= 1.
        k = F.col("__k")
        return F.sum(F.when(k == _END, F.col(col))) - F.sum(F.when(k == since, F.col(col)))

    n, overlap = F.col("n_path"), F.col("__o")
    return (
        prefix.groupBy(*by, F.col("__t0").alias(ts))
        .agg(
            span("__n", _START).alias("n_path"),
            span("__o", _START).alias("__o"),
            span("__ra", _READ).alias("__ra"),
            span("__rn", _READ).alias("__rn"),
        )
        .where(n > 0)
        .select(
            *by,
            ts,
            (F.lit(1.0) - overlap / n).alias("avg_uniqueness"),
            n,
            F.when(F.col("__rn") > 0, F.abs(F.col("__ra"))).alias("ret_attr"),
        )
    )


def average_uniqueness(events: DataFrame, prices: DataFrame, *, t1_col: str = "t1") -> DataFrame:
    """Per-event average uniqueness only (AFML 4.4.2); see
    ``sample_weights`` for semantics."""
    ts = column_names.timestamp
    symbol = column_names.symbol
    by = [symbol] if symbol in events.columns else []
    return sample_weights(events, prices, t1_col=t1_col).select(
        *by, ts, "avg_uniqueness", "n_path"
    )


def return_attribution(events: DataFrame, prices: DataFrame, *, t1_col: str = "t1") -> DataFrame:
    """Per-event return-attribution weight only (AFML 4.5.3); see
    ``sample_weights`` for semantics."""
    ts = column_names.timestamp
    symbol = column_names.symbol
    by = [symbol] if symbol in events.columns else []
    return sample_weights(events, prices, t1_col=t1_col).select(
        *by, ts, "ret_attr", "n_path"
    )


def time_decay(
    weights: DataFrame,
    *,
    weight_col: str = "avg_uniqueness",
    last_weight: float = 0.5,
    output_col: str = "decayed_weight",
) -> DataFrame:
    """Linear time-decay on cumulative uniqueness (AFML 4.5.4): the
    newest sample keeps factor 1.0, the oldest gets ``last_weight``, and
    the decay is linear in *cumulative sample information* (running sum
    of the weight column ordered by time) rather than calendar time, so
    dense periods decay faster than idle ones.

    ``last_weight`` in [0, 1] interpolates; negative values follow
    AFML's convention of zeroing out the oldest fraction of information.
    Per-symbol when the symbol column is present.  Pure window algebra —
    one shuffle on symbol, no Python.
    """
    ts, symbol = column_names.timestamp, column_names.symbol
    by = [symbol] if symbol in weights.columns else []
    w_cum = (
        Window.partitionBy(*(by or [F.lit(1)]))
        .orderBy(ts)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(*(by or [F.lit(1)]))
    cum = F.sum(F.col(weight_col)).over(w_cum)
    total = F.sum(F.col(weight_col)).over(w_all)
    if last_weight >= 0:
        slope = (1.0 - last_weight) / total
        const = F.lit(float(last_weight))
    else:
        slope = 1.0 / ((float(last_weight) + 1.0) * total)
        const = F.lit(1.0) - slope * total
    factor = const + slope * cum
    return weights.withColumn(
        output_col,
        F.when(factor > 0, factor).otherwise(F.lit(0.0)) * F.col(weight_col),
    )
