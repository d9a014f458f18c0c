"""Auto-split oracle module (from the former monolithic registry.py).

Part of polars_trading_spark.oracles: each module registers its domain's
(Spark, DuckDB-oracle) query pairs into the shared QUERIES dict at import
time.  Import ORDER (see registry.py) plus the rotation front pins the
driver gate window; tests/test_registry_order.py asserts the manifest.
"""


from __future__ import annotations
from polars_trading_spark._utils import SEQ_COL
from polars_trading_spark.operators import dynamic_labels as dyn_ops
from polars_trading_spark.operators.features import frac_diff
from polars_trading_spark.operators.features import frac_diff_sql_expr
from polars_trading_spark.operators.labels import fixed_time_return
from polars_trading_spark.operators.labels import fixed_time_return_classification
from polars_trading_spark.sources.tables import TRADES_CTE
from polars_trading_spark.sources.tables import trades_from_events
from pyspark.sql import DataFrame
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from polars_trading_spark.oracles._shared import (  # noqa: F401
    _trades_config,
    register,
)



# --------------------------------------------------------------------------
# A5/A6. fixed_time_return (+ classification, both threshold and sign
# modes) — pure window arithmetic; results are bit-exact across engines
# (single division / subtraction, no multi-term sums), so no rounding.
# --------------------------------------------------------------------------

FTR_WINDOW, FTR_OFFSET, FTR_THRESHOLD = 20, 1, 0.05



@register(
    "fixed_time_return",
    f"""
WITH trades AS ({TRADES_CTE}),
led AS (
  SELECT symbol, ts_event,
         lead(price, {FTR_OFFSET + FTR_WINDOW}) OVER w / lead(price, {FTR_OFFSET}) OVER w - 1
           AS fixed_time_return
  FROM trades
  WINDOW w AS (PARTITION BY symbol ORDER BY ts_event, seq)
)
SELECT symbol, ts_event, fixed_time_return,
       CAST(CASE WHEN fixed_time_return > {FTR_THRESHOLD} THEN 1
                 WHEN fixed_time_return < -{FTR_THRESHOLD} THEN -1
                 WHEN fixed_time_return BETWEEN -{FTR_THRESHOLD} AND {FTR_THRESHOLD} THEN 0
                 ELSE NULL END AS INTEGER) AS label,
       CAST(sign(fixed_time_return) AS INTEGER) AS label_sign
FROM led
""",
    "Forward return t+1 → t+21 per symbol with threshold and sign labels "
    "(reference labels.py:30-104)",
)
def q_fixed_time_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _trades_config():
        t = trades_from_events(spark, sf_dir)
        order = ["ts_event", SEQ_COL]
        out = t.select(
            "symbol",
            "ts_event",
            fixed_time_return(
                "price", FTR_WINDOW, FTR_OFFSET, "symbol", order_by=order
            ).alias("fixed_time_return"),
            fixed_time_return_classification(
                "price", FTR_WINDOW, FTR_THRESHOLD, FTR_OFFSET, "symbol", order_by=order
            ).alias("label"),
            fixed_time_return_classification(
                "price", FTR_WINDOW, None, FTR_OFFSET, "symbol", order_by=order
            ).alias("label_sign"),
        )
    return out



# --------------------------------------------------------------------------
# A7. daily_vol — backward as-of self-join + EWM std.  The oracle uses the
# closed-form cumulative-sum EWM formulation (valid at sf0.01 lengths);
# the engine runs pandas ewm inside applyInPandas.  Both rounded to 6dp.
# --------------------------------------------------------------------------

DAILY_VOL_SPAN = 100

_ALPHA = 2.0 / (DAILY_VOL_SPAN + 1.0)

_R = 1.0 / (1.0 - _ALPHA)


EWM_STD_SQL = f"""
valid AS (
  SELECT *, row_number() OVER (PARTITION BY symbol ORDER BY ts_event, seq) - 1 AS t
  FROM rets WHERE ret IS NOT NULL
),
acc AS (
  SELECT symbol, seq, t,
         sum(ret * power({_R!r}, t)) OVER w AS wa,
         sum(power({_R!r}, t)) OVER w AS wb,
         sum(ret * ret * power({_R!r}, t)) OVER w AS wc,
         sum(power({_R * _R!r}, t)) OVER w AS wd
  FROM valid
  WINDOW w AS (PARTITION BY symbol ORDER BY t ROWS UNBOUNDED PRECEDING)
),
vol AS (
  SELECT r0.symbol, r0.ts_event, r0.seq, r0.price, r0.ret,
         CASE WHEN r0.ret IS NULL THEN NULL
              WHEN a.t = 0 THEN 0.0
              ELSE sqrt(greatest((a.wc/a.wb - (a.wa/a.wb)*(a.wa/a.wb))
                                 * (a.wb*a.wb/(a.wb*a.wb - a.wd)), 0))
         END AS trgt
  FROM rets r0 LEFT JOIN acc a ON r0.symbol = a.symbol AND r0.seq = a.seq
)
"""


LOOKBACK_SQL = f"""
trades AS ({TRADES_CTE}),
probes AS (
  SELECT *, ts_event - INTERVAL 24 HOURS AS lookback FROM trades
),
lk AS (
  SELECT p.symbol, p.ts_event, p.seq, p.price, r.price AS lookback_price
  FROM probes p
  ASOF LEFT JOIN trades r ON p.symbol = r.symbol AND p.lookback >= r.ts_event
),
rets AS (
  SELECT *, price / lookback_price - 1 AS ret FROM lk
)
"""



@register(
    "daily_vol",
    f"""
WITH
{LOOKBACK_SQL},
{EWM_STD_SQL}
SELECT symbol, ts_event, round(trgt, 6) AS daily_return_volatility
FROM vol
""",
    "EWM std (span=100) of 24h-lookback returns per symbol "
    "(reference dynamic_labels.py:14-86, AFML pg. 44)",
)
def q_daily_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _trades_config():
        out = dyn_ops.daily_vol(trades_from_events(spark, sf_dir), span=DAILY_VOL_SPAN)
    return out.withColumn(
        "daily_return_volatility", F.round("daily_return_volatility", 6)
    )



# --------------------------------------------------------------------------
# A8. vertical barrier — forward as-of self-join; timestamps, exact.
# --------------------------------------------------------------------------

BARRIER_OFFSET = "4h"



@register(
    "vertical_barrier",
    f"""
WITH trades AS ({TRADES_CTE}),
offs AS (
  SELECT symbol, ts_event, ts_event + INTERVAL 4 HOURS AS off FROM trades
)
SELECT o.symbol, o.ts_event, b.vertical_barrier
FROM offs o
ASOF LEFT JOIN (SELECT symbol, ts_event AS vertical_barrier FROM trades) b
  ON o.symbol = b.symbol AND o.off <= b.vertical_barrier
""",
    "First timestamp at-or-after ts+4h per symbol "
    "(reference dynamic_labels.py:89-145)",
)
def q_vertical_barrier(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _trades_config():
        out = dyn_ops.get_vertical_barrier_by_timedelta(
            trades_from_events(spark, sf_dir), BARRIER_OFFSET
        )
    return out



# --------------------------------------------------------------------------
# cusum_filter — AFML 2.5.2.1 symmetric CUSUM event sampling.  The scan
# is history-dependent (per-side resets), so the oracle replays the
# exact sequential recursion as a recursive CTE advancing every symbol
# one row per iteration; the Spark side runs the chunked closed-form
# numpy scan inside an applyInPandas island.
# --------------------------------------------------------------------------

CUSUM_H = 150.0



@register(
    "cusum_filter",
    f"""
WITH RECURSIVE trades AS ({TRADES_CTE}),
t AS (
  SELECT symbol, ts_event,
         row_number() OVER (PARTITION BY symbol ORDER BY ts_event, seq) AS rn,
         price - lag(price) OVER (PARTITION BY symbol ORDER BY ts_event, seq) AS d
  FROM trades
),
rec(symbol, rn, spos, sneg, fired, side) AS (
  SELECT symbol, rn, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), FALSE, 0
  FROM t WHERE rn = 1
  UNION ALL
  SELECT x.symbol, x.rn,
         CASE WHEN NOT (x.n < -{CUSUM_H}) AND x.p > {CUSUM_H} THEN 0.0 ELSE x.p END,
         CASE WHEN x.n < -{CUSUM_H} THEN 0.0 ELSE x.n END,
         (x.n < -{CUSUM_H}) OR (x.p > {CUSUM_H}),
         CASE WHEN x.n < -{CUSUM_H} THEN -1 WHEN x.p > {CUSUM_H} THEN 1 ELSE 0 END
  FROM (
    SELECT tt.symbol, tt.rn,
           greatest(0.0, r.spos + tt.d) AS p,
           least(0.0, r.sneg + tt.d) AS n
    FROM rec r JOIN t tt ON tt.symbol = r.symbol AND tt.rn = r.rn + 1
  ) x
)
SELECT r.symbol, tt.ts_event, CAST(r.side AS INTEGER) AS side
FROM rec r JOIN t tt ON tt.symbol = r.symbol AND tt.rn = r.rn
WHERE r.fired
""",
    "Symmetric CUSUM event sampling (AFML 2.5.2.1): emit ±1 events when "
    "the running excursion exceeds the threshold — chunked closed-form "
    "numpy scan per symbol vs sequential recursive-CTE oracle",
)
def q_cusum_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polars_trading_spark.operators.sampling import cusum_filter

    with _trades_config():
        out = cusum_filter(trades_from_events(spark, sf_dir), CUSUM_H)
    return out



# --------------------------------------------------------------------------
# sample_weights — AFML ch.4 extension of the labeling pipeline: label
# concurrency, average uniqueness, return attribution, linear time decay.
# The engine reads span sums off one sweep-line; the oracle computes the
# same quantities the direct way (span join + window concurrency +
# running-sum decay).
# --------------------------------------------------------------------------


@register(
    "sample_weights",
    f"""
WITH trades AS ({TRADES_CTE}),
offs AS (
  SELECT symbol, ts_event, ts_event + INTERVAL 4 HOURS AS off FROM trades
),
ev0 AS (
  SELECT o.symbol, o.ts_event AS t0, b.t1
  FROM offs o
  ASOF LEFT JOIN (SELECT symbol, ts_event AS t1 FROM trades) b
    ON o.symbol = b.symbol AND o.off <= b.t1
),
ev AS (
  SELECT symbol, t0, coalesce(t1, max(t0) OVER (PARTITION BY symbol)) AS t1
  FROM ev0
),
rets AS (
  SELECT symbol, ts_event AS pt,
         ln(price / lag(price) OVER (PARTITION BY symbol ORDER BY ts_event)) AS r
  FROM trades
),
joined AS (
  SELECT e.symbol, e.t0, p.pt, p.r
  FROM ev e
  JOIN rets p ON p.symbol = e.symbol AND p.pt BETWEEN e.t0 AND e.t1
),
conc AS (
  SELECT *, count(*) OVER (PARTITION BY symbol, pt) AS c FROM joined
),
weights AS (
  SELECT symbol, t0 AS ts_event,
         avg(1.0 / c) AS w,
         CAST(count(*) AS BIGINT) AS n_path,
         abs(sum(CASE WHEN pt > t0 THEN r / c END)) AS ra
  FROM conc
  GROUP BY symbol, t0
)
SELECT symbol, ts_event,
       round(w, 6) AS avg_uniqueness,
       n_path,
       round(ra, 6) AS ret_attr,
       round((0.5 + 0.5 * sum(w) OVER (PARTITION BY symbol ORDER BY ts_event
                                       ROWS UNBOUNDED PRECEDING)
                    / sum(w) OVER (PARTITION BY symbol)) * w, 6) AS decayed_weight
FROM weights
""",
    "AFML ch.4 sample weights over 4h-barrier events: average uniqueness "
    "(1/concurrency), return attribution, linear time decay — one "
    "per-symbol sweep, no join, zero Python",
)
def q_sample_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polars_trading_spark.operators import sample_weights as sw_ops

    with _trades_config():
        trades = trades_from_events(spark, sf_dir)
        events = dyn_ops.get_vertical_barrier_by_timedelta(trades, BARRIER_OFFSET)
        out = sw_ops.sample_weights(events, trades, t1_col="vertical_barrier")
        out = sw_ops.time_decay(out, weight_col="avg_uniqueness", last_weight=0.5)
    return out.select(
        "symbol",
        "ts_event",
        F.round("avg_uniqueness", 6).alias("avg_uniqueness"),
        "n_path",
        F.round("ret_attr", 6).alias("ret_attr"),
        F.round("decayed_weight", 6).alias("decayed_weight"),
    )



# --------------------------------------------------------------------------
# A11. frac_diff — FFD linear combination of lags; identical left-folded
# sum on both sides → bit-exact, no rounding.
# --------------------------------------------------------------------------

FRAC_D, FRAC_THRESHOLD = 0.5, 0.01



@register(
    "frac_diff",
    f"""
WITH trades AS ({TRADES_CTE})
SELECT symbol, ts_event,
       {frac_diff_sql_expr('price', FRAC_D, FRAC_THRESHOLD)} AS frac_diff
FROM trades
WINDOW w AS (PARTITION BY symbol ORDER BY ts_event, seq)
""",
    "Fixed-width-window fractional differentiation d=0.5 thr=0.01 "
    "(reference features/frac_diff.py + src/frac_diff.rs)",
)
def q_frac_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _trades_config():
        t = trades_from_events(spark, sf_dir)
        out = t.select(
            "symbol",
            "ts_event",
            frac_diff(
                "price", FRAC_D, FRAC_THRESHOLD, "symbol", order_by=["ts_event", SEQ_COL]
            ).alias("frac_diff"),
        )
    return out



# --------------------------------------------------------------------------
# A9/A10. triple barrier — the flagship pipeline: vol target → vertical
# barrier → first touch (range scan) → label.  Touch returns are exact
# single divisions; label flips only within ~1e-15 of a barrier, so no
# rounding is needed on the output columns.
# --------------------------------------------------------------------------

TB_SPAN, TB_OFFSET = 100, "4h"



@register(
    "triple_barrier",
    f"""
WITH
{LOOKBACK_SQL},
{EWM_STD_SQL},
barrier AS (
  SELECT o.symbol, o.ts_event, b.vb AS t1
  FROM (SELECT symbol, ts_event, ts_event + INTERVAL 4 HOURS AS off FROM trades) o
  ASOF LEFT JOIN (SELECT symbol, ts_event AS vb FROM trades) b
    ON o.symbol = b.symbol AND o.off <= b.vb
),
ev AS (
  SELECT v.symbol, v.ts_event AS t0, v.seq, v.price AS entry, v.trgt,
         coalesce(bar.t1, m.max_ts) AS t1
  FROM vol v
  JOIN barrier bar ON v.symbol = bar.symbol AND v.ts_event = bar.ts_event
  JOIN (SELECT symbol, max(ts_event) AS max_ts FROM vol WHERE trgt IS NOT NULL GROUP BY symbol) m
    ON v.symbol = m.symbol
  WHERE v.trgt IS NOT NULL
),
touch AS (
  SELECT e.symbol, e.t0, e.seq, e.entry, e.t1,
         min(CASE WHEN p.price / e.entry - 1 > e.trgt THEN p.ts_event END) AS pt_time,
         min(CASE WHEN p.price / e.entry - 1 < -e.trgt THEN p.ts_event END) AS sl_time
  FROM ev e
  JOIN trades p ON p.symbol = e.symbol AND p.ts_event >= e.t0 AND p.ts_event <= e.t1
  GROUP BY 1, 2, 3, 4, 5
),
labeled AS (
  SELECT symbol, t0, entry, pt_time, sl_time, t1,
         least(coalesce(pt_time, t1), coalesce(sl_time, t1), t1) AS touch_ts
  FROM touch
)
SELECT l.symbol,
       l.t0 AS "timestamp",
       l.touch_ts AS touch_timestamp,
       tp.price / l.entry - 1 AS return,
       CAST(CASE WHEN l.pt_time IS NOT NULL AND l.pt_time = l.touch_ts THEN 1
                 WHEN l.sl_time IS NOT NULL AND l.sl_time = l.touch_ts THEN -1
                 ELSE 0 END AS INTEGER) AS label
FROM labeled l
JOIN (SELECT symbol, ts_event, first(price ORDER BY seq) AS price
      FROM trades GROUP BY symbol, ts_event) tp
  ON tp.symbol = l.symbol AND tp.ts_event = l.touch_ts
""",
    "Triple-barrier labels: daily_vol target, 4h vertical barrier, "
    "pt/sl=1 first touch (completes reference dynamic_labels.py:148-186; "
    "AFML pg. 45-46)",
)
def q_triple_barrier(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _trades_config():
        out = dyn_ops.get_triple_barrier_label(
            trades_from_events(spark, sf_dir),
            span=TB_SPAN,
            barrier_offset=TB_OFFSET,
            profit_take=1.0,
            stop_loss=1.0,
        )
    return out



# --------------------------------------------------------------------------
# A10 meta-labeling mode: a deterministic ±1 bet side (seq parity) rides
# along; path returns are side-adjusted before barrier detection and the
# label answers act/pass (AFML ch. 3.6; reference stub dynamic_labels.py
# :173-186 documents the two-class mode, _testing/labels.py:28-33 the
# side-adjusted path return).
# --------------------------------------------------------------------------


@register(
    "triple_barrier_meta",
    f"""
WITH
{LOOKBACK_SQL},
{EWM_STD_SQL},
barrier AS (
  SELECT o.symbol, o.ts_event, b.vb AS t1
  FROM (SELECT symbol, ts_event, ts_event + INTERVAL 4 HOURS AS off FROM trades) o
  ASOF LEFT JOIN (SELECT symbol, ts_event AS vb FROM trades) b
    ON o.symbol = b.symbol AND o.off <= b.vb
),
ev AS (
  SELECT v.symbol, v.ts_event AS t0, v.seq, v.price AS entry, v.trgt,
         CASE WHEN v.seq % 2 = 0 THEN 1.0 ELSE -1.0 END AS side,
         coalesce(bar.t1, m.max_ts) AS t1
  FROM vol v
  JOIN barrier bar ON v.symbol = bar.symbol AND v.ts_event = bar.ts_event
  JOIN (SELECT symbol, max(ts_event) AS max_ts FROM vol WHERE trgt IS NOT NULL GROUP BY symbol) m
    ON v.symbol = m.symbol
  WHERE v.trgt IS NOT NULL
),
touch AS (
  SELECT e.symbol, e.t0, e.seq, e.entry, e.side, e.t1,
         min(CASE WHEN (p.price / e.entry - 1) * e.side > e.trgt THEN p.ts_event END) AS pt_time,
         min(CASE WHEN (p.price / e.entry - 1) * e.side < -e.trgt THEN p.ts_event END) AS sl_time
  FROM ev e
  JOIN trades p ON p.symbol = e.symbol AND p.ts_event >= e.t0 AND p.ts_event <= e.t1
  GROUP BY 1, 2, 3, 4, 5, 6
),
labeled AS (
  SELECT symbol, t0, entry, side, pt_time, sl_time, t1,
         least(coalesce(pt_time, t1), coalesce(sl_time, t1), t1) AS touch_ts
  FROM touch
)
SELECT l.symbol,
       l.t0 AS "timestamp",
       l.touch_ts AS touch_timestamp,
       l.side,
       (tp.price / l.entry - 1) * l.side AS return,
       CAST(CASE WHEN (tp.price / l.entry - 1) * l.side > 0 THEN 1 ELSE 0 END AS INTEGER) AS label
FROM labeled l
JOIN (SELECT symbol, ts_event, first(price ORDER BY seq) AS price
      FROM trades GROUP BY symbol, ts_event) tp
  ON tp.symbol = l.symbol AND tp.ts_event = l.touch_ts
""",
    "Meta-labels (act/pass) over a deterministic ±1 bet side: "
    "side-adjusted barrier detection, realized bet return, label=1 iff "
    "positive (completes reference dynamic_labels.py:173-186 two-class "
    "mode; AFML ch. 3.6)",
)
def q_triple_barrier_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _trades_config():
        t = trades_from_events(spark, sf_dir).withColumn(
            "side", F.when(F.col(SEQ_COL) % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        )
        out = dyn_ops.get_triple_barrier_label(
            t,
            span=TB_SPAN,
            barrier_offset=TB_OFFSET,
            profit_take=1.0,
            stop_loss=1.0,
            label_style="meta",
            side_col="side",
        )
    return out



# --------------------------------------------------------------------------
# C-ext. Trend-scanning labels (operators/trend_scan.py)
# --------------------------------------------------------------------------

_TS_MIN_SPAN, _TS_MAX_SPAN = 5, 20



def _trend_scan_oracle(min_span: int, max_span: int) -> str:
    """Generate the DuckDB oracle with the SAME left-associated expression
    trees the Spark kernel's row-wise cumsums evaluate, so every double
    is bitwise equal and the raw argmax-|t| key cannot diverge between
    engines."""
    lead_cols = ",\n    ".join(
        [f"lead(price, {k}) OVER w AS p{k}" for k in range(1, max_span)]
        + [f"lead(ts_event, {l - 1}) OVER w AS e{l}" for l in range(min_span, max_span + 1)]
    )
    sums, stats, tvals, unions = [], [], [], []
    sy, syy, sxy = "price", "(price * price)", "0.0"
    for l in range(2, max_span + 1):
        pk = f"p{l - 1}"
        sy = f"({sy} + {pk})"
        syy = f"({syy} + ({pk} * {pk}))"
        sxy = f"({sxy} + ({float(l - 1)!r} * {pk}))"
        if l < min_span:
            continue
        n, sx = float(l), l * (l - 1) / 2.0
        sxx = (l - 1) * l * (2 * l - 1) / 6.0
        sums.append(f"{sy} AS sy{l}, {syy} AS syy{l}, {sxy} AS sxy{l}")
        stats.append(
            f"(({n!r} * sxy{l}) - ({sx!r} * sy{l})) / {n * sxx - sx * sx!r} AS slope{l}"
        )
        stats.append(f"p{l - 1} IS NOT NULL AS valid{l}")
        tvals.append(
            f"greatest((syy{l} - (((sy{l} - (slope{l} * {sx!r})) / {n!r}) * sy{l}))"
            f" - (slope{l} * sxy{l}), 0.0)"
            f" / {n - 2.0!r} / {sxx - sx * sx / n!r} AS se2_{l}"
        )
        unions.append(
            f"SELECT symbol, ts_event, e{l} AS t1, {l} AS span,"
            f" slope{l} / sqrt(se2_{l}) AS tval"
            f" FROM s3 WHERE valid{l} AND se2_{l} > 0"
        )
    nl = ",\n    "
    return f"""
WITH trades AS ({TRADES_CTE}),
j AS (
  SELECT symbol, ts_event, price,
    {lead_cols}
  FROM trades
  WINDOW w AS (PARTITION BY symbol ORDER BY ts_event)
),
s1 AS (
  SELECT *,
    {nl.join(sums)}
  FROM j
),
s2 AS (
  SELECT *,
    {nl.join(stats)}
  FROM s1
),
s3 AS (
  SELECT *,
    {nl.join(tvals)}
  FROM s2
),
cand AS (
  {' UNION ALL '.join(unions)}
),
winner AS (
  SELECT symbol, ts_event, t1, span, tval
  FROM cand
  QUALIFY row_number() OVER (PARTITION BY symbol, ts_event
                             ORDER BY abs(tval) DESC, span ASC) = 1
)
SELECT t.symbol, t.ts_event, w.t1, CAST(w.span AS INTEGER) AS span, w.tval,
  CASE WHEN w.tval > 0 THEN 1.0 WHEN w.tval < 0 THEN -1.0
       WHEN w.tval = 0 THEN 0.0 END AS label
FROM trades t
LEFT JOIN winner w ON t.symbol = w.symbol AND t.ts_event = w.ts_event
"""



@register(
    "trend_scan",
    _trend_scan_oracle(_TS_MIN_SPAN, _TS_MAX_SPAN),
    "Trend-scanning labels: argmax-|t| forward OLS trend over spans "
    f"[{_TS_MIN_SPAN},{_TS_MAX_SPAN}] (AFML ch.5)",
)
def q_trend_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polars_trading_spark.operators.trend_scan import trend_scanning_labels

    with _trades_config():
        out = trend_scanning_labels(
            trades_from_events(spark, sf_dir),
            min_span=_TS_MIN_SPAN,
            max_span=_TS_MAX_SPAN,
        )
    return out



# --------------------------------------------------------------------------
# C-ext. Purged K-fold CV assignment (operators/cv.py)
# --------------------------------------------------------------------------

_CV_FOLDS = 5

_CV_EMBARGO = "30m"



@register(
    "purged_kfold",
    f"""
WITH trades AS ({TRADES_CTE}),
offs AS (
  SELECT symbol, ts_event, ts_event + INTERVAL 4 HOURS AS off FROM trades
),
barrier_events AS (
  SELECT o.symbol, o.ts_event, b.vertical_barrier
  FROM offs o
  ASOF LEFT JOIN (SELECT symbol, ts_event AS vertical_barrier FROM trades) b
    ON o.symbol = b.symbol AND o.off <= b.vertical_barrier
),
ev AS (
  SELECT symbol, ts_event AS t0,
    coalesce(vertical_barrier,
             max(greatest(ts_event, coalesce(vertical_barrier, ts_event)))
               OVER (PARTITION BY symbol)) AS t1,
    ntile({_CV_FOLDS}) OVER (PARTITION BY symbol ORDER BY ts_event) AS fold
  FROM barrier_events
),
hulls AS (
  SELECT symbol, fold, min(t0) AS test_start, max(t1) AS test_end
  FROM ev GROUP BY symbol, fold
),
j AS (
  SELECT e.symbol, e.t0, e.t1, e.fold AS event_fold,
         h.fold, h.test_start, h.test_end,
         h.test_end + INTERVAL 30 MINUTES AS embargo_end
  FROM ev e JOIN hulls h ON e.symbol = h.symbol
)
SELECT symbol, t0 AS ts_event, CAST(fold AS INTEGER) AS fold,
  CASE WHEN event_fold = fold THEN 'test'
       WHEN t0 <= test_end AND test_start <= t1 THEN 'purged'
       WHEN t0 > test_end AND t0 <= embargo_end THEN 'embargo'
       ELSE 'train' END AS role
FROM j
""",
    f"Purged {_CV_FOLDS}-fold CV assignment with {_CV_EMBARGO} embargo over "
    "4h-barrier events (AFML ch.7 PurgedKFold)",
)
def q_purged_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polars_trading_spark.operators.cv import purged_kfold

    with _trades_config():
        events = dyn_ops.get_vertical_barrier_by_timedelta(
            trades_from_events(spark, sf_dir), BARRIER_OFFSET
        )
        out = purged_kfold(events, n_folds=_CV_FOLDS, embargo=_CV_EMBARGO)
    return out



# --------------------------------------------------------------------------
# C-ext. Combinatorial purged CV (operators/cv.py::cpcv_assign, AFML
# ch.12) — every C(n,2) pair of groups forms one split's test set;
# purge/embargo run against EACH test hull separately.
# --------------------------------------------------------------------------

_CPCV_GROUPS = 4

_CPCV_EMBARGO = "30m"



@register(
    "cpcv_assign",
    f"""
WITH trades AS ({TRADES_CTE}),
offs AS (
  SELECT symbol, ts_event, ts_event + INTERVAL 4 HOURS AS off FROM trades
),
barrier_events AS (
  SELECT o.symbol, o.ts_event, b.vertical_barrier
  FROM offs o
  ASOF LEFT JOIN (SELECT symbol, ts_event AS vertical_barrier FROM trades) b
    ON o.symbol = b.symbol AND o.off <= b.vertical_barrier
),
ev AS (
  SELECT symbol, ts_event AS t0,
    coalesce(vertical_barrier,
             max(greatest(ts_event, coalesce(vertical_barrier, ts_event)))
               OVER (PARTITION BY symbol)) AS t1,
    ntile({_CPCV_GROUPS}) OVER (PARTITION BY symbol ORDER BY ts_event) AS grp
  FROM barrier_events
),
combos AS (
  SELECT CAST(row_number() OVER (ORDER BY a, b) AS INTEGER) AS split_id, a, b
  FROM (SELECT g1.g AS a, g2.g AS b
        FROM (SELECT unnest(generate_series(1, {_CPCV_GROUPS})) AS g) g1,
             (SELECT unnest(generate_series(1, {_CPCV_GROUPS})) AS g) g2
        WHERE g1.g < g2.g)
),
splits AS (
  SELECT split_id, a AS test_grp FROM combos
  UNION ALL
  SELECT split_id, b AS test_grp FROM combos
),
hulls AS (
  SELECT symbol, grp AS test_grp, min(t0) AS h_start, max(t1) AS h_end
  FROM ev GROUP BY symbol, grp
),
split_hulls AS (
  SELECT s.split_id, h.symbol, s.test_grp, h.h_start, h.h_end,
         h.h_end + INTERVAL 30 MINUTES AS emb_end
  FROM splits s JOIN hulls h ON s.test_grp = h.test_grp
),
flags AS (
  SELECT e.symbol, e.t0, e.grp, sh.split_id,
    bool_or(e.grp = sh.test_grp) AS is_test,
    bool_or(e.t0 <= sh.h_end AND sh.h_start <= e.t1) AS olap,
    bool_or(e.t0 > sh.h_end AND e.t0 <= sh.emb_end) AS embargoed
  FROM ev e JOIN split_hulls sh ON e.symbol = sh.symbol
  GROUP BY e.symbol, e.t0, e.grp, sh.split_id
)
SELECT symbol, t0 AS ts_event, split_id,
  CASE WHEN is_test THEN 'test'
       WHEN olap THEN 'purged'
       WHEN embargoed THEN 'embargo'
       ELSE 'train' END AS role
FROM flags
""",
    f"Combinatorial purged CV over C({_CPCV_GROUPS},2) split combinations "
    f"with {_CPCV_EMBARGO} embargo, per-test-hull purging (AFML ch.12)",
)
def q_cpcv_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polars_trading_spark.operators.cv import cpcv_assign

    with _trades_config():
        events = dyn_ops.get_vertical_barrier_by_timedelta(
            trades_from_events(spark, sf_dir), BARRIER_OFFSET
        )
        out = cpcv_assign(
            events, n_groups=_CPCV_GROUPS, k_test=2, embargo=_CPCV_EMBARGO
        )
    return out



# --------------------------------------------------------------------------
# C-ext. Bet sizing: averaging active bets (operators/bet_sizing.py)
# --------------------------------------------------------------------------


@register(
    "bet_sizing",
    f"""
WITH base AS (
{_trend_scan_oracle(_TS_MIN_SPAN, _TS_MAX_SPAN)}
),
ev AS (
  SELECT symbol, ts_event AS t0, t1, tval / sqrt(1 + tval * tval) AS m
  FROM base WHERE tval IS NOT NULL AND t1 IS NOT NULL
),
pairs AS (
  SELECT e.symbol, e.t0 AS pt, j.m
  FROM ev e JOIN ev j
    ON e.symbol = j.symbol AND j.t0 <= e.t0 AND e.t0 <= j.t1
)
SELECT symbol, pt AS ts_event,
  round(avg(m), 6) AS avg_active_bet,
  CAST(count(*) AS INTEGER) AS n_active
FROM pairs GROUP BY symbol, pt
""",
    "Averaging active bets (AFML 10.2) over sigmoid-sized trend-scanning "
    "signals (AFML 10.3) — one sweep-line window, one aggregate",
)
def q_bet_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polars_trading_spark.operators.bet_sizing import (
        average_active_bets,
        bet_size_from_tstat,
    )
    from polars_trading_spark.operators.trend_scan import trend_scanning_labels

    with _trades_config():
        labels = trend_scanning_labels(
            trades_from_events(spark, sf_dir),
            min_span=_TS_MIN_SPAN,
            max_span=_TS_MAX_SPAN,
        )
        ev = labels.where(F.col("tval").isNotNull()).withColumn(
            "bet_size", bet_size_from_tstat(F.col("tval"))
        )
        out = average_active_bets(ev)
    return out.select(
        "symbol",
        "ts_event",
        F.round("avg_active_bet", 6).alias("avg_active_bet"),
        "n_active",
    )



# --------------------------------------------------------------------------
# C-ext. Sequential bootstrap (operators/bootstrap.py, AFML 4.5.3)
# --------------------------------------------------------------------------

_SB_DRAWS = 64

_SB_EVERY = 20  # every 20th trade becomes an event



@register(
    "sequential_bootstrap",
    f"""
WITH RECURSIVE
trades AS ({TRADES_CTE}),
ev AS (
  SELECT symbol, ts_event AS t0, ts_event + INTERVAL 1 DAY AS t1,
    row_number() OVER (PARTITION BY symbol ORDER BY ts_event, seq) - 1 AS i
  FROM trades WHERE seq % {_SB_EVERY} = 0
),
endsrel AS (
  SELECT a.symbol, a.i, count(*) - 1 AS e
  FROM ev a JOIN ev b ON a.symbol = b.symbol AND b.t0 <= a.t1
  GROUP BY a.symbol, a.i
),
per_sym AS (
  SELECT e.symbol,
    list(e.t0 ORDER BY e.i) AS t0s,
    list(r.e ORDER BY e.i) AS ends,
    CAST(count(*) AS INT) AS n
  FROM ev e JOIN endsrel r ON e.symbol = r.symbol AND e.i = r.i
  GROUP BY e.symbol
),
rec AS (
  SELECT symbol, 0 AS d, CAST(NULL AS INT) AS pick,
         list_transform(t0s, x -> 0) AS counts
  FROM per_sym
  UNION ALL
  SELECT symbol, d, pick,
    list_transform(counts, (c, j) -> CASE WHEN j - 1 BETWEEN pick AND ends[pick + 1]
                                          THEN c + 1 ELSE c END) AS counts
  FROM (
    SELECT q.symbol, q.d, q.counts, q.ends,
      CAST(list_position(q.keys, list_max(q.keys)) - 1 AS INT) AS pick
    FROM (
      SELECT r.symbol, r.d + 1 AS d, r.counts, p.ends,
        list_transform(range(p.n), i ->
          ln((CAST(('0x' || substr(md5(r.symbol || '|' || (r.d + 1) || '|' || i), 1, 15)) AS BIGINT) + 0.5)
             / 1152921504606846976.0)
          / (list_sum(list_transform(r.counts[i + 1 : p.ends[i + 1] + 1], c -> 1.0 / (1 + c)))
             / (p.ends[i + 1] - i + 1))
        ) AS keys
      FROM rec r JOIN per_sym p USING (symbol)
      WHERE r.d < {_SB_DRAWS}
    ) q
  ) z
)
SELECT r.symbol, r.d AS draw, r.pick AS event_idx, p.t0s[r.pick + 1] AS t0
FROM rec r JOIN per_sym p USING (symbol)
WHERE r.d >= 1
""",
    f"Sequential bootstrap of {_SB_DRAWS} draws per symbol over 1-day-barrier "
    "events (every 20th trade): uniqueness-proportional A-Res draws with the "
    "portable md5 hash, replayed exactly by a recursive-CTE oracle (AFML 4.5.3)",
)
def q_sequential_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polars_trading_spark.operators.bootstrap import sequential_bootstrap

    with _trades_config():
        tr = trades_from_events(spark, sf_dir)
    ev = tr.filter(F.col(SEQ_COL) % _SB_EVERY == 0).select(
        "symbol",
        F.col("ts_event").alias("t0"),
        (F.col("ts_event") + F.expr("INTERVAL 1 DAY")).alias("t1"),
        SEQ_COL,
    )
    return sequential_bootstrap(ev, n_draws=_SB_DRAWS)


# --------------------------------------------------------------------------
# C-ext (round 9). Walk-forward evaluation splits (operators/cv.py::
# walk_forward) — the train-on-the-past sibling of purged_kfold:
# anchored (expanding) and rolling (fixed-width) train windows, span
# purging at the train/test boundary, pre-test embargo gap.
# --------------------------------------------------------------------------

_WF_SPLITS = 4

_WF_EMBARGO = "30m"


def _sql_interval(duration: str) -> str:
    """Render a simple ``<n><unit>`` duration (the operator-side embargo
    constant) as a DuckDB INTERVAL literal, so the oracle and the
    operator share ONE source of truth and editing ``_WF_EMBARGO`` can
    never silently desynchronize them."""
    units = {"s": "SECONDS", "m": "MINUTES", "h": "HOURS", "d": "DAYS"}
    n, unit = int(duration[:-1]), duration[-1]
    return f"INTERVAL {n} {units[unit]}"


def _walk_forward_oracle(mode: str) -> str:
    unused = (
        "WHEN blk < split THEN 'unused'\n       " if mode == "rolling" else ""
    )
    return f"""
WITH trades AS ({TRADES_CTE}),
offs AS (
  SELECT symbol, ts_event, ts_event + INTERVAL 4 HOURS AS off FROM trades
),
barrier_events AS (
  SELECT o.symbol, o.ts_event, b.vertical_barrier
  FROM offs o
  ASOF LEFT JOIN (SELECT symbol, ts_event AS vertical_barrier FROM trades) b
    ON o.symbol = b.symbol AND o.off <= b.vertical_barrier
),
ev AS (
  SELECT symbol, ts_event AS t0,
    coalesce(vertical_barrier,
             max(greatest(ts_event, coalesce(vertical_barrier, ts_event)))
               OVER (PARTITION BY symbol)) AS t1,
    ntile({_WF_SPLITS + 1}) OVER (PARTITION BY symbol ORDER BY ts_event) AS blk
  FROM barrier_events
),
splits AS (
  SELECT symbol, CAST(blk - 1 AS INTEGER) AS split, min(t0) AS test_start
  FROM ev WHERE blk >= 2 GROUP BY symbol, blk
)
SELECT e.symbol, e.t0 AS ts_event, s.split,
  CASE WHEN blk = split + 1 THEN 'test'
       WHEN blk > split + 1 THEN 'future'
       {unused}WHEN t1 >= test_start THEN 'purged'
       WHEN t1 >= test_start - {_sql_interval(_WF_EMBARGO)} THEN 'embargo'
       ELSE 'train' END AS role
FROM ev e JOIN splits s ON e.symbol = s.symbol
"""


@register(
    "walk_forward",
    _walk_forward_oracle("anchored"),
    f"Anchored walk-forward splits: {_WF_SPLITS} expanding train windows "
    f"over 4h-barrier events, span purging at the test boundary and a "
    f"{_WF_EMBARGO} pre-test embargo gap (deployment-faithful WF backtest "
    "protocol, AFML ch.11-12)",
)
def q_walk_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polars_trading_spark.operators.cv import walk_forward

    with _trades_config():
        events = dyn_ops.get_vertical_barrier_by_timedelta(
            trades_from_events(spark, sf_dir), BARRIER_OFFSET
        )
        out = walk_forward(
            events, n_splits=_WF_SPLITS, mode="anchored", embargo=_WF_EMBARGO
        )
    return out


@register(
    "walk_forward_rolling",
    _walk_forward_oracle("rolling"),
    f"Rolling walk-forward splits: {_WF_SPLITS} fixed-width train windows "
    "(one block each; earlier blocks 'unused'), same purge + embargo as "
    "the anchored variant",
)
def q_walk_forward_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polars_trading_spark.operators.cv import walk_forward

    with _trades_config():
        events = dyn_ops.get_vertical_barrier_by_timedelta(
            trades_from_events(spark, sf_dir), BARRIER_OFFSET
        )
        out = walk_forward(
            events, n_splits=_WF_SPLITS, mode="rolling", embargo=_WF_EMBARGO
        )
    return out
