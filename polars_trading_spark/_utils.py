"""Shared plan-construction helpers.

These are the engine-level building blocks every operator composes:

* ``col_or_lit``       — normalize ``str | Column | literal`` into a Column
                         (role of the reference's ``parse_into_expr``,
                         polars_trading/_utils.py:10-41).
* ``parse_duration``   — Polars-style duration strings (``"1m"``,
                         ``"1h30m"``, ``"5w"``) → microseconds
                         (reference documents the grammar at
                         polars_trading/bars.py:101-108).
* ``duration_micros``  — the same for ``str | timedelta`` offsets.
* ``truncate``         — epoch-aligned bucketing of a timestamp by an
                         arbitrary duration (role of Polars
                         ``dt.truncate``); weeks anchor to Monday.
* ``with_seq``         — a deterministic per-row tiebreaker column so
                         "first/last row in time order" is well defined
                         on an unordered engine.
* ``ohlcv_aggs``       — the OHLCV aggregation bundle (role of
                         ``_ohlcv_expr``, polars_trading/bars.py:72-88)
                         expressed order-independently with
                         ``min_by``/``max_by`` over ``struct(ts, seq)``.

Everything here stays inside Catalyst (built-in functions only) so the
whole bundle participates in whole-stage codegen — no Python UDFs.
"""

from __future__ import annotations

import re
from datetime import timedelta
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "col_or_lit",
    "parse_duration",
    "duration_micros",
    "duration_to_interval",
    "truncate",
    "with_seq",
    "ohlcv_aggs",
    "persist_tracked",
    "release_persisted",
    "declare_unique_timestamps",
    "has_unique_timestamps",
    "SEQ_COL",
]

# Internal tiebreaker column name used by the bar/label operators.
SEQ_COL = "__pts_seq"

_DURATION_RE = re.compile(r"(\d+)(ns|us|ms|s|m|h|d|w)")

_UNIT_US = {
    "ns": 1e-3,  # sub-microsecond durations round to µs (engine precision)
    "us": 1,
    "ms": 1_000,
    "s": 1_000_000,
    "m": 60_000_000,
    "h": 3_600_000_000,
    "d": 86_400_000_000,
    "w": 7 * 86_400_000_000,
}

# 1970-01-05 was the first Monday after the epoch; Polars anchors weekly
# buckets to Mondays, so week-truncation offsets by -3 days (1969-12-29).
_MONDAY_ANCHOR_US = -3 * 86_400_000_000


def col_or_lit(value) -> Column:
    """Normalize ``str | Column | python literal`` into a Column.

    Strings are treated as column names (matching the reference's
    ``IntoExpr`` convention); anything else becomes a literal.
    """
    if isinstance(value, Column):
        return value
    if isinstance(value, str):
        return F.col(value)
    return F.lit(value)


def parse_duration(duration: str) -> tuple[int, bool]:
    """Parse a Polars-style duration string into (microseconds, is_weekly).

    Supports compound strings like ``"1h30m"``. ``is_weekly`` is True when
    the duration is expressed purely in weeks, which changes the truncation
    anchor (Monday rather than the epoch).
    """
    s = duration.strip().lower().replace(" ", "")
    pos = 0
    total_us = 0.0
    units = []
    for m in _DURATION_RE.finditer(s):
        if m.start() != pos:
            raise ValueError(f"invalid duration string: {duration!r}")
        pos = m.end()
        n, unit = int(m.group(1)), m.group(2)
        units.append(unit)
        total_us += n * _UNIT_US[unit]
    if pos != len(s) or not units:
        raise ValueError(f"invalid duration string: {duration!r}")
    micros = int(round(total_us))
    if micros <= 0:
        raise ValueError(f"duration must be positive: {duration!r}")
    return micros, all(u == "w" for u in units)


def duration_micros(duration: str | timedelta) -> int:
    """A duration string or ``timedelta`` in whole microseconds."""
    if isinstance(duration, timedelta):
        return int(duration.total_seconds() * 1_000_000)
    return parse_duration(duration)[0]


def duration_to_interval(duration: str) -> str:
    """Polars duration string → Spark interval string (e.g. ``"90 seconds"``)."""
    micros, _ = parse_duration(duration)
    if micros % 1_000_000 == 0:
        return f"{micros // 1_000_000} seconds"
    return f"{micros} microseconds"


def truncate(ts, duration: str) -> Column:
    """Truncate a timestamp column to ``duration``-sized buckets.

    Buckets are aligned to the Unix epoch, except pure-week durations
    which anchor to Monday — matching Polars ``dt.truncate`` semantics
    used by the reference's ``time_bars`` (polars_trading/bars.py:131).

    Implemented as integer floor arithmetic on ``unix_micros`` so it stays
    in codegen and supports arbitrary durations (``"15m"``, ``"90s"``, ...)
    that ``date_trunc`` cannot express.
    """
    width, weekly = parse_duration(duration)
    anchor = _MONDAY_ANCHOR_US if weekly else 0
    us = F.unix_micros(col_or_lit(ts))
    bucket = F.floor((us - F.lit(anchor)) / F.lit(width)).cast("long")
    return F.timestamp_micros(bucket * F.lit(width) + F.lit(anchor))


# Cache-ownership contract: operators that persist intermediate tables
# (sketches, event frames) register them here instead of leaking them.
# At most one operator's caches should be alive at a time in a
# pipeline-as-library session; callers (perfbench, the registry
# wrappers) release the previous operator's caches via
# ``release_persisted()``.
_TRACKED_PERSISTS: list[DataFrame] = []


def persist_tracked(df: DataFrame, storage_level=None, *, eager: bool = False) -> DataFrame:
    """``df.persist()`` plus registration for later bulk release.

    ``eager=True`` materializes the cache with one ``count()`` before
    returning (round 14, guide §5.3): a lazily-persisted frame whose
    consumers are scheduled CONCURRENTLY by AQE is computed once per
    concurrent consumer — block writes dedupe at store time, the
    compute does not — so an expensive subtree (tokenize/explode
    chains) multiplies by its consumer count.  At one scan partition
    that race wasted only duplicate work on idle cores; once small
    payload scans repartition to every core (``_parallelize_small_scan``
    in sources/tables.py) the duplicates contend for the same cores and
    the wall multiplies.
    Use eager persists for multi-consumer frames with non-trivial
    lineage; leave single-consumer or serially-consumed frames lazy.
    """
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    _TRACKED_PERSISTS.append(df)
    if eager:
        df.count()
    return df


def release_persisted() -> int:
    """Unpersist every tracked cache; returns how many were released.

    Safe to call while downstream DataFrames are still alive — Spark
    simply recomputes on the next action, so this trades cache hits for
    bounded executor memory in long-lived sessions.
    """
    n = 0
    while _TRACKED_PERSISTS:
        _TRACKED_PERSISTS.pop().unpersist()
        n += 1
    return n


def with_seq(df: DataFrame, order_cols: Sequence[str] | None = None) -> DataFrame:
    """Attach the deterministic tiebreaker column ``SEQ_COL`` if absent.

    Polars' ``first()``/``last()`` aggregations observe stable frame order
    after a sort; Spark aggregation is order-free, so "first/last by time"
    must be expressed as ``min_by/max_by`` over ``struct(ts, seq)``.  When
    the input has no natural sequence column we capture ingest order via
    ``monotonically_increasing_id`` (deterministic for a given file
    layout; callers with a real sequence column should pass it through
    ``seq_col`` parameters on the operators instead).
    """
    if SEQ_COL in df.columns:
        return df
    return df.withColumn(SEQ_COL, F.monotonically_increasing_id())


# Column-metadata key declaring "timestamps are unique per group" on a
# source (set by readers that know their data contract).
_UNIQUE_TS_META = "pts_unique_ts"


def declare_unique_timestamps(df: DataFrame, ts_col: str) -> DataFrame:
    """Declare that ``ts_col`` values are unique within every (symbol[,
    date]) group of this source.

    The declaration rides on column metadata, surviving projections, and
    is the only thing that selects the bar operators' scalar order key
    (HashAggregate — measured 3× over the struct key's SortAggregate at
    4M rows).  Only declare what the source really guarantees: with
    duplicate timestamps the scalar key breaks ties nondeterministically.
    """
    return df.withMetadata(ts_col, {_UNIQUE_TS_META: True})


def has_unique_timestamps(df: DataFrame, ts_col: str) -> bool:
    """True when the source declared per-group-unique timestamps."""
    try:
        meta = df.schema[ts_col].metadata
    except KeyError:
        return False
    return bool(meta.get(_UNIQUE_TS_META, False))


def _order_key(ts: Column, seq: Column | None, unique_ts: bool) -> Column:
    if unique_ts:
        # Scalar long order key: min_by/max_by buffers stay mutable
        # primitives, so Catalyst plans HashAggregate instead of the
        # SortAggregate a struct key forces.  Only sound when the source
        # guarantees unique timestamps per group: rows sharing a
        # timestamp would tie nondeterministically (the struct key
        # breaks ties on seq).
        return F.unix_micros(ts)
    return F.struct(ts, seq) if seq is not None else F.struct(ts)


def ohlcv_aggs(
    ts: str,
    price: str,
    size,
    *,
    seq: str | None = SEQ_COL,
    ts_name: str | None = None,
    unique_ts: bool = False,
) -> list[Column]:
    """The 9-column OHLCV aggregation bundle.

    Matches the reference's ``_ohlcv_expr`` (polars_trading/bars.py:72-88)
    but order-independently: open/close are ``min_by``/``max_by`` over the
    ``(ts, seq)`` order key instead of positional first/last, which lets
    Catalyst drop the pre-sort entirely (partial aggregation + single
    shuffle instead of sort + shuffle).

    ``size`` may be a column name or a Column (volume bars aggregate the
    per-piece split amount rather than the raw trade size).
    ``unique_ts`` selects the scalar ``unix_micros`` order key; pass
    ``has_unique_timestamps`` of the source.
    """
    ts_name = ts_name or ts
    tcol = F.col(ts)
    pcol = F.col(price)
    scol = col_or_lit(size)
    key = _order_key(tcol, F.col(seq) if seq else None, unique_ts)
    return [
        F.min(tcol).alias(f"{ts_name}_start"),
        F.max(tcol).alias(f"{ts_name}_end"),
        F.min_by(pcol, key).alias("open"),
        F.max(pcol).alias("high"),
        F.min(pcol).alias("low"),
        F.max_by(pcol, key).alias("close"),
        (F.sum(scol * pcol) / F.sum(scol)).alias("vwap"),
        F.sum(scol).cast("long").alias("volume"),
        F.count(F.lit(1)).cast("int").alias("n_trades"),
    ]


def bar_output_columns(symbol: str, ts_name: str) -> list[str]:
    """The typed output contract of every bar operator.

    Reference schema: polars_trading/bars.py:11-34 (Datetime("ns") →
    timestamp[µs], UInt32 → int — engine-level precision differences
    documented in SURVEY.md §1.3).
    """
    return [
        symbol,
        f"{ts_name}_start",
        f"{ts_name}_end",
        "open",
        "high",
        "low",
        "close",
        "volume",
        "vwap",
        "n_trades",
    ]
