"""The session's codegen cache holds every class a pass of the trading
operators compiles (session.py), so repeated passes reuse the generated
code instead of compiling it again.  With Spark's default of 100
entries every round compiled everything anew."""

from __future__ import annotations

import pytest

from polars_trading_spark import Config
from polars_trading_spark._utils import SEQ_COL
from polars_trading_spark.plans.inspect import codegen_stats
from polars_trading_spark.sources.tables import trades_from_events

# AQE sometimes re-plans a stage with a different shape and compiles it
# once more; a steady round may carry that many stray compilations.
STRAY = 25


@pytest.fixture
def trades(spark, sf_dir):
    return trades_from_events(spark, sf_dir)


def _labeling(trades):
    """The labeling benchmark's operator set, at its parameters."""
    from polars_trading_spark.operators.dynamic_labels import (
        daily_vol,
        get_triple_barrier_label,
        get_vertical_barrier_by_timedelta,
    )
    from polars_trading_spark.operators.features import frac_diff
    from polars_trading_spark.operators.sample_weights import sample_weights

    fd = frac_diff("price", 0.4, 1e-3, "symbol", order_by=["ts_event", SEQ_COL])  # 55 terms
    events = get_vertical_barrier_by_timedelta(trades, "30m")
    return [
        daily_vol(trades, span=100),
        trades.select("symbol", "ts_event", fd.alias("frac_diff")),
        get_triple_barrier_label(trades, span=100, barrier_offset="30m"),
        sample_weights(events, trades, t1_col="vertical_barrier"),
    ]


def _bar_set(trades):
    """The bar benchmark's operator set, ending in the
    ``bar_feature_matrix(dollar_bars(...))`` chain.  The chain alone
    compiles about 57 classes, which fit Spark's default cache; the
    whole set does not."""
    from polars_trading_spark.operators import bars
    from polars_trading_spark.operators.feature_matrix import bar_feature_matrix
    from polars_trading_spark.operators.imbalance import imbalance_bars
    from polars_trading_spark.operators.sampling import cusum_filter

    return [
        bars.time_bars(trades, bar_size="1m"),
        bars.tick_bars(trades, bar_size=200),
        bars.volume_bars(trades, bar_size=10_000),
        bars.dollar_bars(trades, bar_size=1e6),
        imbalance_bars(trades, threshold=10.0, mode="tick"),
        cusum_filter(trades, 0.505),
        bar_feature_matrix(bars.dollar_bars(trades, bar_size=1e6)),
    ]


@pytest.mark.parametrize("build", [_labeling, _bar_set], ids=["labeling", "bars"])
def test_steady_rounds_reuse_generated_code(spark, trades, build):
    compiled = []
    for _ in range(3):
        before, _ = codegen_stats(spark)
        with Config(timestamp_column="ts_event"):
            for out in build(trades):
                out.write.format("noop").mode("overwrite").save()
        compiled.append(codegen_stats(spark)[0] - before)
    first, _, third = compiled
    assert third <= max(first // 10, STRAY), compiled


def test_codegen_stats_counts_a_compilation(spark):
    # A projection no other test plans: its one class is compiled once,
    # then served from the cache.
    df = spark.range(7).selectExpr("id * 7919 + 104729 AS codegen_stats_probe")
    n0, ms0 = codegen_stats(spark)
    df.write.format("noop").mode("overwrite").save()
    n1, ms1 = codegen_stats(spark)
    df.write.format("noop").mode("overwrite").save()
    n2, _ = codegen_stats(spark)
    assert n1 > n0 and ms1 > ms0
    assert n2 == n1
