"""Performance contracts, asserted on physical plans.

These are the properties that decide whether the operators survive a
100× scale-up; a regression here is a performance bug even if every
value-level test stays green.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from polars_trading_spark import Config, time_bars, tick_bars, volume_bars
from polars_trading_spark.operators.bars import range_bars
from polars_trading_spark.operators.imbalance import (
    imbalance_bars,
    imbalance_bars_adaptive,
    run_bars,
)
from polars_trading_spark.operators.asof import asof_join
from polars_trading_spark.operators.labels import fixed_time_return
from polars_trading_spark.plans import (
    count_exchanges,
    count_keyed_exchanges,
    count_python_stages,
    has_unbounded_following_frame,
    plan_string,
    scan_columns,
)
from polars_trading_spark.sources.tables import trades_from_events


@pytest.fixture
def trades(spark, sf_dir):
    return trades_from_events(spark, sf_dir)


def test_time_bars_is_single_shuffle_no_python(trades):
    with Config(timestamp_column="ts_event"):
        df = time_bars(trades, bar_size="15m")
    # At most one aggregate shuffle (zero when the input is a single
    # partition and the distribution is trivially satisfied).
    assert count_exchanges(df) <= 1
    assert count_python_stages(df) == 0


def test_tick_bars_no_python(trades):
    with Config(timestamp_column="ts_event"):
        df = tick_bars(trades, bar_size=50)
    assert count_python_stages(df) == 0


def test_volume_bars_stays_native(trades):
    # The reference needs a sequential Rust kernel here; our closed-form
    # split must stay entirely inside the JVM.
    with Config(timestamp_column="ts_event"):
        df = volume_bars(trades, bar_size=200_000)
    assert count_python_stages(df) == 0
    assert count_exchanges(df) <= 2  # window partition + final group-by


def test_frac_diff_and_labels_no_python(trades):
    from polars_trading_spark._utils import SEQ_COL
    from polars_trading_spark.operators.features import frac_diff

    df = trades.select(
        fixed_time_return("price", 10, 1, "symbol", order_by=["ts_event", SEQ_COL]).alias("r"),
        frac_diff("price", 0.5, 0.01, "symbol", order_by=["ts_event", SEQ_COL]).alias("fd"),
    )
    assert count_python_stages(df) == 0


def test_asof_join_never_uses_unbounded_following(spark):
    left = spark.createDataFrame([(1, "A")], "k long, s string")
    right = spark.createDataFrame([(1, "A", 2.0)], "k long, s string, v double")
    for strategy in ("backward", "forward"):
        out = asof_join(left, right, on="k", by="s", strategy=strategy)
        # Unbounded-following frames are O(n²) per partition in Spark's
        # WindowExec — the forward direction must use the descending-
        # running-frame rewrite instead (operators/asof.py).
        assert not has_unbounded_following_frame(out), strategy


def test_bar_scan_prunes_columns(trades):
    # A bar query must not read the unused events columns (props,
    # user_id) from parquet.
    with Config(timestamp_column="ts_event"):
        df = time_bars(trades, bar_size="15m")
    for cols in scan_columns(df).values():
        assert "props" not in cols
        assert "user_id" not in cols


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = trades_from_events(spark, sf_dir).where(F.col("symbol") == "click")
    plan = plan_string(df, "executed")
    assert "PushedFilters" in plan and "event_type" in plan.split("PushedFilters")[1][:200]


def _undeclared(df):
    """The same rows with the source's unique-timestamp declaration stripped."""
    return df.withMetadata("ts_event", {})


def test_fast_order_mode_uses_hash_aggregate(trades):
    # The struct order key forces SortAggregate (immutable agg buffer);
    # the scalar unix_micros key a declared source selects must restore
    # HashAggregate — the shape that matters at 100 TB group
    # cardinalities.
    with Config(timestamp_column="ts_event"):
        exact = time_bars(_undeclared(trades), bar_size="15m")
        fast = time_bars(trades, bar_size="15m")
    assert "SortAggregate" in plan_string(exact)
    assert "HashAggregate" in plan_string(fast)
    assert "SortAggregate" not in plan_string(fast)


_AGGREGATE_CLOCKS = {
    "time_bars": lambda df: time_bars(df, bar_size="15m"),
    "tick_bars": lambda df: tick_bars(df, bar_size=50),
    "volume_bars": lambda df: volume_bars(df, bar_size=200_000),
    "range_bars": lambda df: range_bars(df, 0.5),
    "imbalance_bars": lambda df: imbalance_bars(df, threshold=6),
    "run_bars": lambda df: run_bars(df, threshold=6),
    "imbalance_bars_adaptive": lambda df: imbalance_bars_adaptive(df),
}


@pytest.mark.parametrize("clock", sorted(_AGGREGATE_CLOCKS))
def test_auto_order_mode_follows_source_declaration(trades, spark, clock):
    # trades_from_events declares unique (symbol, ts) → every
    # aggregate-based bar clock must pick the HashAggregate order key
    # with no manual switch; an undeclared source must stay on the exact
    # struct key.
    import datetime as dt

    build = _AGGREGATE_CLOCKS[clock]
    with Config(timestamp_column="ts_event"):
        declared = build(trades)
        undeclared = build(
            spark.createDataFrame(
                [("A", 1.0, 1, dt.datetime(2021, 1, 1))],
                "symbol string, price double, size long, ts_event timestamp",
            )
        )
    assert "HashAggregate" in plan_string(declared)
    assert "SortAggregate" not in plan_string(declared)
    assert "SortAggregate" in plan_string(undeclared)


def test_fast_order_mode_same_results_on_unique_ts(trades):
    # events timestamps are unique per symbol, so the declared source's
    # scalar key and the undeclared copy's struct key must agree.
    with Config(timestamp_column="ts_event"):
        exact = time_bars(_undeclared(trades), bar_size="15m").collect()
        fast = time_bars(trades, bar_size="15m").collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, fast))


def test_sample_weights_zero_python_bounded_exchanges(trades):
    from polars_trading_spark.operators.dynamic_labels import (
        get_vertical_barrier_by_timedelta,
    )
    from polars_trading_spark.operators.sample_weights import sample_weights, time_decay

    with Config(timestamp_column="ts_event"):
        events = get_vertical_barrier_by_timedelta(trades, "4h")
        out = time_decay(
            sample_weights(events, trades, t1_col="vertical_barrier")
        )
    assert count_python_stages(out) == 0
    # The sweep windows, the event aggregate and the decay windows all key
    # on the symbol; anything beyond ~8 shuffles means a lost partitioning.
    assert count_exchanges(out) <= 8
    assert not has_unbounded_following_frame(out)


def test_triple_barrier_one_pipeline_no_job_at_build(spark, trades):
    """The daily-vol target and the vertical barrier are appended to the
    trades in one pipeline: building the labels runs no Spark job, the
    plan holds no Python stage, and its only joins are the first-touch
    span join and the touch-price lookup (no join back on (ts, symbol))."""
    from polars_trading_spark.operators.dynamic_labels import get_triple_barrier_label

    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    with Config(timestamp_column="ts_event"):
        out = get_triple_barrier_label(trades, span=20, barrier_offset="4h")
    after = tracker.getJobIdsForGroup(None)
    assert len(after) == len(before)
    assert count_python_stages(out) == 0
    assert len(re.findall(r"\w+Join\b", plan_string(out))) <= 2
    assert count_exchanges(out) <= 3


def test_sample_weights_no_job_at_build(spark, trades):
    """The weights read their span sums off one per-symbol sweep:
    building them runs no Spark job, and the plan holds no join and at
    most the vertical barrier's, the sweep's and the dedup's shuffles."""
    from polars_trading_spark.operators.dynamic_labels import (
        get_vertical_barrier_by_timedelta,
    )
    from polars_trading_spark.operators.sample_weights import sample_weights

    tracker = spark.sparkContext.statusTracker()
    with Config(timestamp_column="ts_event"):
        events = get_vertical_barrier_by_timedelta(trades, "4h")
        before = tracker.getJobIdsForGroup(None)
        out = sample_weights(events, trades, t1_col="vertical_barrier")
        after = tracker.getJobIdsForGroup(None)
    assert len(after) == len(before)
    assert not re.search(r"\w+Join\b", plan_string(out))
    assert count_exchanges(out) <= 3


def test_vocab_topk_is_distributed_topk_no_python(spark, sf_dir):
    from polars_trading_spark.functions.tfidf import tfidf_topk, vocabulary
    from polars_trading_spark.sources.tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    vocab = vocabulary(docs, top_k=50)
    plan = plan_string(vocab)
    # Global top-k must reduce via per-partition heaps, not a global sort.
    assert "TakeOrderedAndProject" in plan
    assert count_python_stages(vocab) == 0
    assert count_python_stages(tfidf_topk(docs, k=5)) == 0


# ---------------------------------------------------------------------------
# round-3 operator plan contracts
# ---------------------------------------------------------------------------


def _bars(trades):
    with Config(timestamp_column="ts_event"):
        return time_bars(trades, bar_size="15m")


def test_bar_features_no_python_one_window_partition(trades):
    """Volatility + microstructure are pure window pipelines: zero
    Python stages, no unbounded-following frames, and the rolling
    features add no exchange beyond the bar aggregation's."""
    from polars_trading_spark.operators.microstructure import microstructure_features
    from polars_trading_spark.operators.volatility import bar_volatility

    bars = _bars(trades)
    base_ex = count_exchanges(bars)
    for out in (
        bar_volatility(bars, window=20, ts_col="ts_event"),
        microstructure_features(bars, window=20, ts_col="ts_event"),
    ):
        assert count_python_stages(out) == 0
        assert not has_unbounded_following_frame(out)
        assert count_exchanges(out) <= base_ex + 1  # one symbol repartition


def test_bar_feature_matrix_one_bar_island_no_join(trades):
    """The feature matrix is one window pipeline over the bars: the
    dollar-bar island runs once, no join, and at most the one ``symbol``
    exchange on top of the bar clock's own."""
    from polars_trading_spark.operators.bars import dollar_bars
    from polars_trading_spark.operators.feature_matrix import bar_feature_matrix

    with Config(timestamp_column="ts_event"):
        bars = dollar_bars(trades, bar_size=1e6)
    out = bar_feature_matrix(bars, window=20)
    assert count_python_stages(out) == 1
    assert "Join" not in plan_string(out)
    assert count_exchanges(out) <= count_exchanges(bars) + 1


def test_vpin_stays_native(trades):
    from polars_trading_spark.operators.microstructure import vpin

    with Config(timestamp_column="ts_event"):
        out = vpin(trades, bucket_volume=500_000, window=10)
    assert count_python_stages(out) == 0
    assert not has_unbounded_following_frame(out)


def test_entropy_stays_native(trades):
    from polars_trading_spark.operators.entropy import return_entropy

    with Config(timestamp_column="ts_event"):
        out = return_entropy(trades, word_len=2, block=50)
    assert count_python_stages(out) == 0


def test_kernel_ops_single_arrow_island(trades):
    """trend_scan and sadf must contain EXACTLY one Arrow Python stage
    (the t-value kernel) and no joins."""
    from polars_trading_spark.operators.structural_breaks import sadf
    from polars_trading_spark.operators.trend_scan import trend_scanning_labels

    with Config(timestamp_column="ts_event"):
        for out in (
            trend_scanning_labels(trades, min_span=5, max_span=12),
            sadf(trades, min_span=10, max_span=20),
        ):
            assert count_python_stages(out) == 1
            assert "Join" not in plan_string(out)


def test_stratified_sample_zero_shuffles(spark, sf_dir):
    from polars_trading_spark.functions.corpus import stratified_sample
    from polars_trading_spark.sources.tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    out = stratified_sample(
        docs.select("doc_id", "lang"), stratum_col="lang", fractions={"en": 0.5}
    )
    # zero data-dependent shuffles; the single allowed exchange is the
    # round-14 payload-scan parallelism guard (small inputs only)
    assert count_keyed_exchanges(out) == 0
    assert count_exchanges(out) <= 1
    assert count_python_stages(out) == 0


def test_imbalance_bars_one_island_one_shuffle(trades):
    """The scan island assigns bar ids; OHLCV stays a native aggregate."""
    from polars_trading_spark.operators.imbalance import imbalance_bars, run_bars

    with Config(timestamp_column="ts_event"):
        for out in (
            imbalance_bars(trades, threshold=6),
            run_bars(trades, threshold=6),
        ):
            assert count_python_stages(out) == 1
            plan = plan_string(out)
            assert "HashAggregate" in plan  # native OHLCV reduction


def test_momentum_rank_is_join_free_two_windows(trades):
    """Null-guarded window expressions replace the ranked-frame self-join:
    the plan has no join and exactly two shuffles (symbol window +
    bucket window) beyond the bar aggregation's own."""
    from polars_trading_spark.operators.cross_section import momentum_rank

    bars = _bars(trades)
    out = momentum_rank(bars, lookback=5, ts_col="ts_event")
    plan = plan_string(out)
    assert "Join" not in plan
    assert count_python_stages(out) == 0
    assert count_exchanges(out) <= count_exchanges(bars) + 2


def test_corwin_schultz_and_csw_stay_native(trades):
    """Both new AFML ch.17/19 additions are pure window pipelines: zero
    Python stages, no unbounded-following frames."""
    from polars_trading_spark.operators.microstructure import corwin_schultz
    from polars_trading_spark.operators.structural_breaks import csw_explosiveness

    bars = _bars(trades)
    cs = corwin_schultz(bars, window=20, ts_col="ts_event")
    assert count_python_stages(cs) == 0
    assert not has_unbounded_following_frame(cs)
    assert count_exchanges(cs) <= count_exchanges(bars) + 1

    with Config(timestamp_column="ts_event"):
        csw = csw_explosiveness(trades, max_lag=10)
    assert count_python_stages(csw) == 0
    assert not has_unbounded_following_frame(csw)


def test_backtest_stats_native_bounded_shuffles(trades):
    """One symbol-window pass feeding two symbol-keyed aggregates and a
    same-key join: zero Python, no unbounded-following frames, and the
    whole statistic tree adds only the symbol-partition shuffles."""
    from polars_trading_spark.operators.backtest import backtest_stats

    bars = _bars(trades)
    out = backtest_stats(bars, periods_per_year=252.0, ts_col="ts_event")
    assert count_python_stages(out) == 0
    assert not has_unbounded_following_frame(out)
    assert count_exchanges(out) <= count_exchanges(bars) + 4


def test_bde_cusum_stays_native_one_shuffle(trades):
    """Recursive-residual CUSUM is one symbol-ordered window pipeline:
    zero Python stages and only the symbol-partition exchange."""
    from polars_trading_spark.operators.structural_breaks import bde_cusum

    with Config(timestamp_column="ts_event"):
        out = bde_cusum(trades)
    assert count_python_stages(out) == 0
    assert count_exchanges(out) <= 1


def test_lz_entropy_single_island_one_shuffle(trades):
    """The LZ kernel is one slim applyInPandas island per symbol: a
    single Python stage and only the symbol-partition exchange."""
    from polars_trading_spark.operators.entropy import lz_entropy

    with Config(timestamp_column="ts_event"):
        out = lz_entropy(trades, window=50)
    assert count_python_stages(out) == 1
    assert count_exchanges(out) <= 1


def test_pii_and_boilerplate_zero_shuffle_zero_python(spark, sf_dir):
    """Both document profilers are single-scan Column pipelines."""
    from polars_trading_spark.functions.pii import pii_profile
    from polars_trading_spark.functions.text import boilerplate_profile
    from polars_trading_spark.sources.tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    for out in (pii_profile(docs), boilerplate_profile(docs)):
        assert count_python_stages(out) == 0
        # zero data-dependent shuffles; ≤1 = the payload-scan guard
        assert count_keyed_exchanges(out) == 0
        assert count_exchanges(out) <= 1


def test_unit_dedup_no_rownumber_hotspot(spark, sf_dir):
    """Sub-document dedup must pick first occurrences with a map-side
    combinable min-aggregate, not a per-hash row_number window that
    serializes hot duplicated units on one reducer."""
    from polars_trading_spark.functions.dedup import unit_dedup
    from polars_trading_spark.sources.tables import read_table

    out = unit_dedup(read_table(spark, sf_dir, "documents"), unit_tokens=10)
    plan = plan_string(out)
    assert "row_number" not in plan.lower()
    assert count_python_stages(out) == 0


def test_unigram_logprob_no_job_at_build(spark, sf_dir):
    """Model totals ride the plan as a broadcast one-row aggregate — no
    Spark job may run while merely constructing the DataFrame."""
    from polars_trading_spark.functions.text import unigram_logprob
    from polars_trading_spark.sources.tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    out = unigram_logprob(docs)
    after = tracker.getJobIdsForGroup(None)
    assert len(after) == len(before)
    assert count_python_stages(out) == 0


def test_sequential_bootstrap_single_island(spark, sf_dir):
    """The inherently sequential draw loop is one applyInPandas island
    per symbol — a single Python stage, one shuffle."""
    from polars_trading_spark.operators.bootstrap import sequential_bootstrap
    from polars_trading_spark.sources.tables import trades_from_events
    from polars_trading_spark._utils import SEQ_COL

    tr = trades_from_events(spark, sf_dir)
    ev = tr.filter(F.col(SEQ_COL) % 20 == 0).select(
        "symbol",
        F.col("ts_event").alias("t0"),
        (F.col("ts_event") + F.expr("INTERVAL 1 DAY")).alias("t1"),
        SEQ_COL,
    )
    out = sequential_bootstrap(ev, n_draws=16)
    assert count_python_stages(out) == 1
    assert count_exchanges(out) <= 1


def test_ivf_pq_native_after_training(spark, sf_dir):
    """Past the bounded codebook-training collect, IVF-PQ is pure
    Column work: zero Python stages in the plan."""
    from polars_trading_spark.functions.similarity import ivf_pq_topk
    from polars_trading_spark.sources.tables import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    out = ivf_pq_topk(emb, emb.where(F.col("vec_id") < 10), k=5)
    assert count_python_stages(out) == 0


def test_pack_sequences_single_island(spark, sf_dir):
    """Packing is one slim island per shard: one Python stage, one
    shuffle (the shard partition)."""
    from polars_trading_spark.functions.corpus import pack_sequences
    from polars_trading_spark.sources.tables import read_table

    out = pack_sequences(read_table(spark, sf_dir, "documents"), budget_tokens=512)
    assert count_python_stages(out) == 1
    # one algorithmic shuffle (the shard partition); +1 for the
    # payload-scan parallelism guard on small inputs
    assert count_keyed_exchanges(out) <= 1
    assert count_exchanges(out) <= 2


def test_mix_corpus_broadcast_no_collect(spark, sf_dir):
    """Mixture rates ride a broadcast per-source aggregate; building the
    frame runs no job."""
    from polars_trading_spark.functions.corpus import mix_corpus
    from polars_trading_spark.sources.tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    out = mix_corpus(docs, weights={"src0": 0.5, "src1": 0.5}, target_tokens=10_000)
    after = tracker.getJobIdsForGroup(None)
    assert len(after) == len(before)
    assert count_python_stages(out) == 0


def test_pair_correlation_one_join_no_python(trades):
    """Pairwise correlations: one ts-key self-join and the pair-window
    shuffle — no Python, no cartesian product in the plan."""
    from polars_trading_spark.operators.cross_section import rolling_pair_correlation

    bars = _bars(trades)
    out = rolling_pair_correlation(bars, window=20, ts_col="ts_event")
    plan = plan_string(out)
    assert count_python_stages(out) == 0
    assert "CartesianProduct" not in plan
