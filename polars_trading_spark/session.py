"""SparkSession factory with engine-tuned defaults.

Centralizes the settings every entry point (tests, bench, driver) needs:
UTC session time (the testdata timestamps are tz-naive), Arrow for the
pandas-UDF islands, and AQE so skewed symbol partitions re-plan at
runtime — the knob that matters most at the 100 TB target.

Generated-code cache: Spark keeps compiled whole-stage classes in one
JVM-wide cache of ``spark.sql.codegen.cache.maxEntries`` entries
(Spark's default is 100).  One pass of the labeling operators compiles
339 classes and one pass of the bar operators 126, so with 100 entries
every class was evicted before the next pass could reuse it: each pass
paid Janino again and loaded hundreds of fresh classes for HotSpot to
JIT again, on small inputs the largest CPU cost of a pass.
``CODEGEN_CACHE_ENTRIES`` holds both families, and a steady pass
compiles (almost) nothing (``plans.inspect.codegen_stats`` shows it).
The conf is static: it takes effect only when ``get_spark`` creates the
context, and the cache is sized once per JVM, on first use.

Engine-specific session confs (settable via ``spark.conf.set`` at any
time; read per-query, not cached):

- ``spark.polars_trading.media.partitions`` — width of the media
  codec Arrow islands (functions/multimodal.py ``_media_base``).
  Default: ``sparkContext.defaultParallelism`` (every core), the right
  floor when one media family runs alone; lower it when several media
  queries share a stage so AQE can coalesce.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]

# Generated classes the JVM keeps compiled.  Measured demand per pass:
# labeling 339 (daily_vol 52, frac_diff 117, triple barrier 96,
# sample_weights 74), bars 126 (bar_feature_matrix 54) — about 465 for
# both families; the rest is slack for the LRU's per-segment eviction.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(app_name: str = "polars-trading-spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """The engine's session at its defaults (see the module docstring).

    Static confs — the codegen cache size and the driver memory — only
    apply when this call creates the context; when a session is already
    running, ``getOrCreate`` returns it and ignores them.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("PTS_SHUFFLE_PARTITIONS", "32"))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Round 14 (guide §2.2/§2.5): AQE's coalescing floor defaults to
        # 1m, which folds a tiny-but-CPU-dense shuffle (a few MB feeding
        # an Arrow kernel or interpreted-HOF stage) into ONE task — at
        # bench scale that serialized whole query families on a 32-core
        # box (sadf_adf1's window+ADF stage: 6.7s in a single task).
        # 256k keeps such stages parallel without over-splitting the
        # smallest shuffles (a 64k floor A/B'd worse on the suite: the
        # 32-way tiny-partition shuffles of bigram_logprob drew a long
        # GC tail — 6.66s vs 4.14s fresh-JVM median at 256k, the rest
        # of the basket within spread).  Partitions at the 100 TB
        # target are orders of magnitude above either floor, so this
        # only changes behavior where coalescing was collapsing
        # parallelism.  Env-tunable for cluster profiles.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("PTS_AQE_MIN_PARTITION_SIZE", "256k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # InferFiltersFromGenerate turns explode(expr) into a pre-filter
        # that re-expands the exploded expression through every alias —
        # for interpreted HOF pipelines (shingles) that multiplies the
        # tokenizer cost ~10x and pins it below the parallelism barrier.
        # The empty-array pruning it buys is negligible for our shapes.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.driver.memory", os.environ.get("PTS_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
