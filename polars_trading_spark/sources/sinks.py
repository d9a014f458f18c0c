"""Sinks: the storage layout that makes the operators fast at 100 TB.

The reference has no file I/O of its own (SURVEY §2.B-B1) — scan/sink
capability comes from the host engine.  Ours is Spark's writers plus an
opinionated layout:

* trades land **partitioned by (date, symbol)** — every bar/label
  operator shuffles on exactly those keys, so a well-laid-out table
  turns their exchanges into partition-local work and lets dynamic
  partition pruning kill whole directories on date-ranged queries;
* optionally **bucketed by symbol** (table format) so symbol-keyed
  joins (as-of unions, first-touch scans) co-locate without a shuffle;
* documents/embeddings land sorted by id with row-group-sized files so
  scans split well (a single giant row group pins work to one task —
  see ``sources/tables.py::_parallelize_small_scan``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_trading_spark.config import column_names

__all__ = [
    "write_trades",
    "write_documents",
    "write_documents_jsonl",
    "write_bucketed",
    "write_training_shards",
]


def write_trades(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    target_rows_per_file: int = 1_000_000,
) -> None:
    """Write a trades table partitioned by (date, symbol).

    Files within a partition are sorted by (ts, seq) so downstream
    window operators read nearly-sorted input and parquet min/max ts
    statistics support range pruning.
    """
    ts, symbol = column_names.timestamp, column_names.symbol
    out = (
        df.withColumn("__pts_date", F.to_date(ts))
        .repartition(F.col("__pts_date"), F.col(symbol))
        .sortWithinPartitions("__pts_date", symbol, ts)
    )
    (
        out.write.mode(mode)
        .option("maxRecordsPerFile", target_rows_per_file)
        .partitionBy("__pts_date", symbol)
        .parquet(path)
    )


def write_documents(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    target_rows_per_file: int = 100_000,
) -> None:
    """Write a documents/embeddings-style table in splittable files."""
    (
        df.repartitionByRange("doc_id" if "doc_id" in df.columns else df.columns[0])
        .write.mode(mode)
        .option("maxRecordsPerFile", target_rows_per_file)
        .parquet(path)
    )


def write_documents_jsonl(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    compression: str = "gzip",
    target_rows_per_file: int = 100_000,
    partition_by: tuple[str, ...] = (),
) -> None:
    """Write a documents corpus as JSONL — the interchange format every
    LLM-data toolchain reads (one JSON object per line, one compressed
    file per split).

    Layout choices that matter at 100 TB:

    * ``repartitionByRange(doc_id)`` keeps each output file a contiguous
      id range, so downstream exact-dedup / join-back stages read
      nearly-sorted input and a partial corpus fetch prunes by filename;
    * ``maxRecordsPerFile`` bounds file size — gzip JSONL is NOT
      splittable, so one file is one task on re-read and oversized files
      serialize the whole pipeline behind a straggler;
    * optional ``partition_by`` (e.g. ``("source",)`` or ``("lang",)``)
      gives directory-level pruning for mixture-sampling reads.
    """
    key = "doc_id" if "doc_id" in df.columns else df.columns[0]
    out = df.repartitionByRange(*(list(partition_by) + [key]))
    writer = (
        out.write.mode(mode)
        .option("compression", compression)
        .option("maxRecordsPerFile", target_rows_per_file)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.json(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_cols: tuple[str, ...] = ("symbol",),
    num_buckets: int = 64,
    sort_cols: tuple[str, ...] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) on its join keys.

    Bucketing is the pre-paid shuffle: both sides of an equi-join on
    ``bucket_cols`` written with the same bucket count read back
    co-partitioned, so the join plans with zero Exchange on either side
    — at 100 TB that is the difference between re-shuffling the trades
    table per query and never shuffling it again.  With ``sort_cols``
    the files are also sorted inside each bucket, upgrading the join to
    a merge without the sort step.

    Spark only honors bucket metadata through the catalog, so this
    writes ``saveAsTable`` (parquet); pass ``path`` for an external
    location.  Readers just ``spark.table(table)``.

    Pick ``num_buckets`` for the target scale, not the test corpus: a
    bucket is one task's read unit per join, so at 100 TB with ~128 MB
    task inputs that's O(10k) buckets; both tables MUST use the same
    count (Spark joins bucketed tables shuffle-free only on equal
    counts, or multiples under ``spark.sql.bucketing.coalesceBucketsInJoin``).
    """
    w = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def write_training_shards(
    docs: DataFrame,
    path: str,
    *,
    budget_tokens: int,
    n_shards: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "pts-pack",
) -> None:
    """The pipeline's last mile: shuffle + pack + write training shards.

    Runs ``pack_sequences`` (deterministic salted-hash shuffle, greedy
    fixed-budget packing), joins the text back, and writes one
    directory per shard (``shard=N/``) with rows sorted by
    ``(seq_id, seq_offset)`` — so a trainer streams each shard file and
    reads documents exactly in packed-sequence order, no further
    shuffling or indexing needed.  Re-runs are byte-stable: the layout
    is a pure function of (corpus, budget, shards, salt).

    One repartition on the shard key (the same exchange the packing
    island needs anyway) and a partition-local sort — nothing global.
    """
    from polars_trading_spark.functions.corpus import pack_sequences

    packed = pack_sequences(
        docs,
        budget_tokens=budget_tokens,
        n_shards=n_shards,
        id_col=id_col,
        text_col=text_col,
        salt=salt,
    )
    # The local sort LEADS with the dynamic partition column: the
    # parquet writer requires child ordering by [shard] and, when a
    # task holds several shards (AQE-coalesced tiny partitions, hash
    # collisions), would otherwise insert its own Sort(shard) — which
    # is not guaranteed stable and can scramble the documented
    # (seq_id, seq_offset) in-file order.  With the shard prefix the
    # writer adds no sort and the contract holds under any layout.
    out = (
        packed.join(docs.select(id_col, text_col), id_col)
        .repartition("shard")
        .sortWithinPartitions("shard", "seq_id", "seq_offset")
    )
    out.write.partitionBy("shard").mode("overwrite").parquet(path)
