"""ML feature-matrix assembly: the end-to-end "dataset builder" a user
of the reference library would run before training.

Composes the round-3 feature operators over one bar frame into a single
wide table per (symbol, bar): range-volatility estimators
(operators/volatility.py), microstructure liquidity features
(operators/microstructure.py), and a supervised target — the forward
next-bar log return and its sign.

Shape: one pipeline over one ``Window.partitionBy(symbol).orderBy(ts)``.
The volatility and microstructure helpers append their columns to the
bar frame in turn and the target is one more ``lead()`` on the same
ordering, so the plan holds one copy of the bar frame (one bar-clock
island when the bars come from ``dollar_bars``), one ``symbol``
exchange and no joins.  One output row per input bar with a non-null
symbol and timestamp.  No Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_trading_spark.operators.microstructure import MICRO_COLS, _with_microstructure
from polars_trading_spark.operators.volatility import VOL_COLS, _with_volatility

__all__ = ["bar_feature_matrix"]


def bar_feature_matrix(
    bars: DataFrame,
    *,
    window: int = 20,
    symbol_col: str = "symbol",
    ts_col: str = "ts_event_start",
    close_col: str = "close",
) -> DataFrame:
    """Wide per-bar feature matrix + forward-return target.

    Returns ``symbol, ts, vol_* (5), roll_measure, kyle_lambda,
    hasbrouck_lambda, amihud, fwd_return, label``; feature columns are
    null until their rolling windows fill, ``fwd_return``/``label`` are
    null on each symbol's last bar.  Every feature equals the standalone
    ``bar_volatility``/``microstructure_features`` value for that bar.
    """
    common = dict(window=window, symbol_col=symbol_col, ts_col=ts_col, close_col=close_col)
    df = _with_microstructure(_with_volatility(bars, **common), **common)
    order = Window.partitionBy(symbol_col).orderBy(ts_col)
    c = F.col(close_col)
    out = df.select(
        symbol_col,
        ts_col,
        *VOL_COLS,
        *MICRO_COLS,
        F.log(F.lead(c).over(order) / c).alias("fwd_return"),
    ).withColumn("label", F.signum("fwd_return") + F.lit(0.0))
    # Rows without a symbol or timestamp are dropped after the windows,
    # so every kept row's features equal the standalone operators'.
    return out.where(F.col(symbol_col).isNotNull() & F.col(ts_col).isNotNull())
