"""Range-based volatility estimators over bar frames.

The reference stops at close-to-close volatility (``daily_vol``,
polars_trading/labels/dynamic_labels.py:20-63); a bar engine feeding ML
pipelines also needs the OHLC range estimators that extract more
information per bar (5-8x the efficiency of close-close on the same
window): Parkinson (1980), Garman-Klass (1980), Rogers-Satchell (1991)
and Yang-Zhang (2000).  All four are closed-form per-bar terms followed
by a rolling window aggregate, so the whole family stays inside
whole-stage codegen — one window spec, zero Python, zero extra
shuffles beyond the single (symbol) sort the window needs.

Scale notes: the only exchange is the hash partition on ``symbol`` for
the window sort; every estimator shares that one window, and adding an
estimator adds columns, not stages.  On a bucketed bar table
(``sinks.write_bucketed``) even that exchange disappears.
``_with_volatility`` appends the columns to a bar frame; ``bar_volatility``
and ``bar_feature_matrix`` (operators/feature_matrix.py) share it.

Semantics:
* rolling window of ``window`` bars per symbol (rows, not time),
  emitted only when the window is full (``count == window``) — matching
  pandas ``rolling(window, min_periods=window)``;
* sample variance (n-1 denominator) where a variance is taken, the
  convention the estimators were published with;
* Yang-Zhang uses the published drift-independent combination
  sigma^2 = sigma_o^2 + k*sigma_c^2 + (1-k)*sigma_rs^2 with
  k = 0.34 / (1.34 + (n+1)/(n-1)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["bar_volatility", "jump_test", "realized_moments", "two_scale_rv"]

_LN2 = 0.6931471805599453


def _full_window_only(expr: Column, cnt: Column, window: int) -> Column:
    return F.when(cnt == window, expr)


VOL_COLS = ("vol_cc", "vol_parkinson", "vol_gk", "vol_rs", "vol_yz")
_VOL_SCRATCH = ("__r_cc", "__r_on", "__r_co", "__hl2", "__rs")


def _with_volatility(
    bars: DataFrame,
    *,
    window: int,
    symbol_col: str,
    ts_col: str,
    open_col: str = "open",
    high_col: str = "high",
    low_col: str = "low",
    close_col: str = "close",
) -> DataFrame:
    """``bars`` with the five ``VOL_COLS`` appended, computed over the
    ``Window.partitionBy(symbol_col).orderBy(ts_col)`` ordering."""
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")

    o, h, low, c = (F.col(x) for x in (open_col, high_col, low_col, close_col))
    order = Window.partitionBy(symbol_col).orderBy(ts_col)
    roll = order.rowsBetween(-(window - 1), 0)

    prev_close = F.lag(c).over(order)
    # Per-bar terms. log-returns: close-close r, overnight o_t/c_{t-1},
    # intrabar close/open; ranges: ln(h/l), Rogers-Satchell cross term.
    df = (
        bars.withColumn("__r_cc", F.log(c / prev_close))
        .withColumn("__r_on", F.log(o / prev_close))
        .withColumn("__r_co", F.log(c / o))
        .withColumn("__hl2", F.pow(F.log(h / low), F.lit(2.0)))
        .withColumn(
            "__rs",
            F.log(h / c) * F.log(h / o) + F.log(low / c) * F.log(low / o),
        )
    )

    # One rolling frame shared by every estimator.  The close-close and
    # overnight terms lose the first bar per symbol (lag is null), so
    # their full-window gate counts the term itself, not the bar.
    n_cc = F.count("__r_cc").over(roll)
    n_bar = F.count(F.lit(1)).over(roll)

    var_cc = F.var_samp("__r_cc").over(roll)
    var_on = F.var_samp("__r_on").over(roll)
    var_co = F.var_samp("__r_co").over(roll)
    mean_hl2 = F.avg("__hl2").over(roll)
    mean_gk = F.avg(0.5 * F.col("__hl2") - (2.0 * _LN2 - 1.0) * F.pow("__r_co", F.lit(2.0))).over(
        roll
    )
    mean_rs = F.avg("__rs").over(roll)

    k = 0.34 / (1.34 + (window + 1) / (window - 1))
    yz_var = var_on + F.lit(k) * var_co + F.lit(1.0 - k) * mean_rs

    out = (
        df.withColumn("vol_cc", _full_window_only(F.sqrt(var_cc), n_cc, window))
        .withColumn(
            "vol_parkinson",
            _full_window_only(F.sqrt(mean_hl2 / (4.0 * _LN2)), n_bar, window),
        )
        # GK/RS can go (numerically) negative on pathological bars;
        # clamp at zero like every published implementation.
        .withColumn(
            "vol_gk", _full_window_only(F.sqrt(F.greatest(mean_gk, F.lit(0.0))), n_bar, window)
        )
        .withColumn(
            "vol_rs", _full_window_only(F.sqrt(F.greatest(mean_rs, F.lit(0.0))), n_bar, window)
        )
        .withColumn(
            "vol_yz", _full_window_only(F.sqrt(F.greatest(yz_var, F.lit(0.0))), n_cc, window)
        )
    )
    return out.drop(*_VOL_SCRATCH)


def bar_volatility(
    bars: DataFrame,
    *,
    window: int = 20,
    symbol_col: str = "symbol",
    ts_col: str = "ts_event_start",
    open_col: str = "open",
    high_col: str = "high",
    low_col: str = "low",
    close_col: str = "close",
) -> DataFrame:
    """Rolling close-close / Parkinson / Garman-Klass / Rogers-Satchell /
    Yang-Zhang volatility per symbol over a bar frame.

    Returns the input keys plus ``vol_cc``, ``vol_parkinson``, ``vol_gk``,
    ``vol_rs``, ``vol_yz`` (null until the rolling window is full).
    """
    out = _with_volatility(
        bars,
        window=window,
        symbol_col=symbol_col,
        ts_col=ts_col,
        open_col=open_col,
        high_col=high_col,
        low_col=low_col,
        close_col=close_col,
    )
    return out.select(symbol_col, ts_col, *VOL_COLS)


def jump_test(
    bars: DataFrame,
    *,
    window: int = 78,
    symbol_col: str = "symbol",
    ts_col: str = "ts_event_start",
    close_col: str = "close",
) -> DataFrame:
    """Barndorff-Nielsen & Shephard jump statistic over a rolling bar
    window: realized variance vs bipower variation.

    ``RV = Σ r_i²`` loads on jumps; ``BV = (π/2)·Σ |r_i||r_{i−1}|``
    is jump-robust, so the relative jump measure ``RJ = (RV − BV)/RV``
    and its studentized ratio-statistic

        z = RJ / sqrt(((π/2)² + π − 5) · max(1, TQ/BV²) / n)

    (TQ = the realized tripower quarticity) flag bars whose window
    contains a price jump — the standard pre-filter before variance
    forecasting and a labeling feature in its own right.

    One lag chain + rolling explicit sums over a single per-symbol
    window partitioning — no joins, no Python.  Output per (symbol,
    bar): ``rv, bv, rj, z`` (null until the window fills).
    """
    import math

    if window < 3:
        raise ValueError(f"window must be >= 3, got {window}")

    c = F.col(close_col).cast("double")
    order = Window.partitionBy(symbol_col).orderBy(ts_col)
    r = F.log(c / F.lag(c).over(order))
    a = F.abs(r)
    al1 = F.lag(a, 1).over(order)
    al2 = F.lag(a, 2).over(order)
    staged = bars.select(
        F.col(symbol_col),
        F.col(ts_col),
        (r * r).alias("__r2"),
        (a * al1).alias("__bp"),
        (F.pow(a, 4.0 / 3) * F.pow(al1, 4.0 / 3) * F.pow(al2, 4.0 / 3)).alias("__tq"),
    )
    roll = order.rowsBetween(-(window - 1), 0)
    n = F.count("__r2").over(roll)
    rv = F.sum("__r2").over(roll)
    bv = F.sum("__bp").over(roll) * (math.pi / 2)
    # tripower quarticity constant: mu_{4/3}^{-3} · n? — the scale
    # cancels inside TQ/BV² up to the standard mu factors; we keep the
    # textbook normalization mu43 = 2^(2/3)·Γ(7/6)/Γ(1/2).
    mu43 = 2 ** (2.0 / 3) * math.gamma(7.0 / 6) / math.gamma(0.5)
    tq = F.sum("__tq").over(roll) * (mu43 ** -3)
    ok = (n >= window) & (rv > 0) & (bv > 0)
    rj = F.when(ok, (rv - bv) / rv)
    theta = (math.pi / 2) ** 2 + math.pi - 5
    z = F.when(
        ok,
        rj
        / F.sqrt(
            F.lit(theta)
            * F.greatest(F.lit(1.0), tq / (bv * bv))
            / n
        ),
    )
    return staged.select(
        F.col(symbol_col),
        F.col(ts_col),
        F.when(ok, rv).alias("rv"),
        F.when(ok, bv).alias("bv"),
        rj.alias("rj"),
        z.alias("z"),
    )


def two_scale_rv(
    df: DataFrame,
    *,
    k: int = 5,
    symbol_col: str | None = None,
    ts_col: str | None = None,
    price_col: str | None = None,
    seq_col: str | None = None,
) -> DataFrame:
    """Two-scale realized variance per (symbol, day) — Zhang, Mykland
    & Aït-Sahalia (2005), "A tale of two time scales": the
    microstructure-noise-corrected integrated variance estimate from
    raw tick prices, where plain realized variance diverges as the
    sampling frequency grows (noise accumulates per tick).

    With log prices ``lp_0..lp_m`` in a (symbol, day) partition,
    ``n = m`` tick returns:

        rv_all     = Σ_{j>=1} (lp_j − lp_{j−1})²          (tick scale)
        rv_sub_avg = (1/K) Σ_{j>=K} (lp_j − lp_{j−K})²    (avg of the K
                                                           offset subgrids)
        n̄          = (n − K + 1) / K
        tsrv       = rv_sub_avg − (n̄ / n) · rv_all

    Null when the partition has fewer than ``K + 1`` returns.

    Scale shape: two lag chains and ONE (symbol, day) window partition —
    no joins, no Python; the float reductions are (ts, seq)-ordered
    RUNNING sums read at the partition's last row (fold-order
    deterministic across engines and partition layouts — SCALING.md
    rule 24/27).

    Output: ``symbol, day, n_ticks, n_returns, rv_all, rv_sub_avg,
    tsrv``.
    """
    from polars_trading_spark._utils import SEQ_COL
    from polars_trading_spark.config import column_names

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")

    symbol = symbol_col or column_names.symbol
    ts = ts_col or column_names.timestamp
    price = price_col or column_names.price
    seq = seq_col or (SEQ_COL if SEQ_COL in df.columns else None)
    order_cols = [ts] + ([seq] if seq else [])

    # stage day as a real column first so BOTH window passes share the
    # same (symbol, day) partitioning — one exchange, second pass is
    # sort-only.  Non-positive/null prices are dropped (log undefined);
    # a null return row would silently skew the n-based denominators —
    # same contract as the streaming twin.
    base = df.where(F.col(price) > 0).select(
        F.col(symbol),
        F.to_date(ts).alias("day"),
        *[F.col(c) for c in order_cols],
        F.log(F.col(price).cast("double")).alias("__lp"),
    )
    w_ord = Window.partitionBy(symbol, "day").orderBy(*order_cols)
    lp = F.col("__lp")
    staged = base.select(
        F.col(symbol),
        "day",
        *[F.col(c) for c in order_cols],
        (lp - F.lag(lp, 1).over(w_ord)).alias("__r1"),
        (lp - F.lag(lp, k).over(w_ord)).alias("__rk"),
    )
    w2 = Window.partitionBy(symbol, "day").orderBy(*order_cols)
    w_run = w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy(symbol, "day")
    agg = staged.select(
        F.col(symbol),
        "day",
        F.row_number().over(w2).alias("__rn"),
        F.count(F.lit(1)).over(w_all).alias("__m"),
        F.sum(F.col("__r1") * F.col("__r1")).over(w_run).alias("__rv"),
        F.sum(F.col("__rk") * F.col("__rk")).over(w_run).alias("__rvk"),
    ).where(F.col("__rn") == F.col("__m"))
    n = (F.col("__m") - 1).cast("double")
    nbar = (n - k + 1) / k
    rv_all = F.col("__rv")
    rv_sub = F.col("__rvk") / k
    ok = n > k
    return agg.select(
        F.col(symbol),
        "day",
        F.col("__m").cast("long").alias("n_ticks"),
        n.cast("long").alias("n_returns"),
        F.when(ok, rv_all).alias("rv_all"),
        F.when(ok, rv_sub).alias("rv_sub_avg"),
        F.when(ok, rv_sub - nbar / n * rv_all).alias("tsrv"),
    )


def realized_moments(
    df: DataFrame,
    *,
    symbol_col: str | None = None,
    ts_col: str | None = None,
    price_col: str | None = None,
    seq_col: str | None = None,
) -> DataFrame:
    """Realized variance / skewness / kurtosis per (symbol, day) from
    intraday tick returns — Amaya, Christoffersen, Jacobs & Vasquez
    (2015, "Does realized skewness predict the cross-section of equity
    returns?"): with n intraday log returns ``r_i``,

        rv    = Σ r_i²
        rskew = sqrt(n) · Σ r_i³ / rv^(3/2)
        rkurt = n · Σ r_i⁴ / rv²

    — the daily higher-moment signals (lottery-demand / crash-risk
    factors) computed without any rolling estimation window.  Null when
    n < 2 or rv == 0.

    Scale shape: one lag chain + one (symbol, day) window partition,
    no joins, no Python; the three power sums are (ts, seq)-ordered
    running folds read at the last row (SCALING.md rule 24/27).

    Output: ``symbol, day, n_returns, rv, rskew, rkurt``.
    """
    from polars_trading_spark._utils import SEQ_COL
    from polars_trading_spark.config import column_names

    symbol = symbol_col or column_names.symbol
    ts = ts_col or column_names.timestamp
    price = price_col or column_names.price
    seq = seq_col or (SEQ_COL if SEQ_COL in df.columns else None)
    order_cols = [ts] + ([seq] if seq else [])

    base = df.where(F.col(price) > 0).select(
        F.col(symbol),
        F.to_date(ts).alias("day"),
        *[F.col(c) for c in order_cols],
        F.log(F.col(price).cast("double")).alias("__lp"),
    )
    w_ord = Window.partitionBy(symbol, "day").orderBy(*order_cols)
    r = F.col("__lp") - F.lag("__lp").over(w_ord)
    staged = base.select(
        F.col(symbol),
        "day",
        *[F.col(c) for c in order_cols],
        r.alias("__r"),
    )
    w2 = Window.partitionBy(symbol, "day").orderBy(*order_cols)
    w_run = w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy(symbol, "day")
    r2 = F.col("__r") * F.col("__r")
    agg = staged.select(
        F.col(symbol),
        "day",
        F.row_number().over(w2).alias("__rn"),
        F.count(F.lit(1)).over(w_all).alias("__m"),
        F.sum(r2).over(w_run).alias("__s2"),
        F.sum(r2 * F.col("__r")).over(w_run).alias("__s3"),
        F.sum(r2 * r2).over(w_run).alias("__s4"),
    ).where(F.col("__rn") == F.col("__m"))
    n = (F.col("__m") - 1).cast("double")
    rv = F.col("__s2")
    ok = (n >= 2) & (rv > 0)
    return agg.select(
        F.col(symbol),
        "day",
        n.cast("long").alias("n_returns"),
        F.when(ok, rv).alias("rv"),
        F.when(ok, F.sqrt(n) * F.col("__s3") / F.pow(rv, 1.5)).alias("rskew"),
        F.when(ok, n * F.col("__s4") / (rv * rv)).alias("rkurt"),
    )


def rv_signature(
    df: DataFrame,
    *,
    lags: tuple[int, ...] = (1, 2, 4, 8, 16, 32),
    symbol_col: str | None = None,
    ts_col: str | None = None,
    price_col: str | None = None,
    seq_col: str | None = None,
) -> DataFrame:
    """Volatility signature curve per symbol — the standard
    microstructure-noise diagnostic (Andersen, Bollerslev, Diebold &
    Labys 2000): subsampled-average realized variance at a ladder of
    tick lags,

        rv(K) = (1/K) * Σ_{j>=K} (lp_j − lp_{j−K})²

    plotted against K.  i.i.d. noise inflates rv at small K and washes
    out as K grows, so a FLAT curve certifies the sampling frequency
    and a steep left edge quantifies the noise (the same estimator
    family as ``two_scale_rv``'s subgrid average, here swept over K).

    One row per (symbol, K): ``k, n_diffs, rv`` and ``noise_ratio``
    (rv(K) / rv(K_max) — 1 at the base lag; >> 1 flags noise).  Null
    rv when a symbol has fewer than ``K + 1`` ticks.

    Scale shape: the lag ladder is exploded onto the tape (|lags|
    fan-out) so every K shares ONE (symbol, K) exchange; each lag is a
    CASE over the fixed ladder (offsets must be literals); the squared
    sums are (ts, seq)-ordered RUNNING folds read at the partition's
    last row; the ratio joins the K_max row back over the
    (symbols x lags)-sized aggregate.  Zero Python.
    """
    from polars_trading_spark._utils import SEQ_COL
    from polars_trading_spark.config import column_names

    if not lags or any(k < 1 for k in lags) or len(set(lags)) != len(lags):
        raise ValueError(f"lags must be distinct positive ints, got {lags}")
    sym = symbol_col or column_names.symbol
    ts = ts_col or column_names.timestamp
    price = price_col or column_names.price
    seq = seq_col if seq_col is not None else SEQ_COL
    order = [ts] + ([seq] if seq in df.columns else [])
    kmax = max(lags)

    t = df.na.drop(subset=[price]).select(
        F.col(sym).alias("symbol"),
        *[F.col(c) for c in order],
        F.log(F.col(price).cast("double")).alias("__lp"),
        F.explode(F.array(*[F.lit(int(k)) for k in sorted(lags)])).alias("k"),
    )
    w = Window.partitionBy("symbol", "k").orderBy(*order)
    lagged = None
    for k in sorted(set(int(x) for x in lags)):
        expr = F.lag("__lp", k).over(w)
        lagged = (
            expr
            if lagged is None
            else F.when(F.col("k") == k, F.lag("__lp", k).over(w)).otherwise(
                lagged
            )
        )
    d = F.col("__lp") - lagged
    t = t.withColumn("__d2", F.when(lagged.isNotNull(), d * d))
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy("symbol", "k")
    g = t.select(
        "symbol",
        "k",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(w_all).alias("__n"),
        F.sum(F.col("__d2").isNotNull().cast("long")).over(w_all).alias("__nd"),
        F.sum("__d2").over(w_run).alias("__s"),
    ).where(F.col("__rn") == F.col("__n"))
    rv = F.when(F.col("__nd") >= 1, F.col("__s") / F.col("k"))
    agg = g.select(
        "symbol",
        F.col("k").cast("int").alias("k"),
        F.col("__nd").cast("long").alias("n_diffs"),
        rv.alias("rv"),
    )
    base = agg.where(F.col("k") == kmax).select(
        "symbol", F.col("rv").alias("__rv_base")
    )
    return agg.join(F.broadcast(base), "symbol", "left").select(
        "symbol",
        "k",
        "n_diffs",
        "rv",
        F.when(
            F.col("__rv_base") > 0, F.col("rv") / F.col("__rv_base")
        ).alias("noise_ratio"),
    )
