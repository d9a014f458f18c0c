"""Interval (range) join: points against [start, end] windows.

Spark compiles a raw ``p.k BETWEEN i.start AND i.end`` join to
BroadcastNestedLoopJoin — a per-key cross product that dies at scale.
The scale-safe shape (the one the pt/sl first-touch scan,
``dynamic_labels.apply_profit_taking_stop_loss``, runs on) is
**bucketed equi-join**:

1. explode each interval onto the fixed-width grid cells it covers
   (fan-out bounded by ``interval_length / bucket + 2``);
2. map each point to its single grid cell;
3. equi-join on (group, cell) — shuffled, AQE-skew-splittable, never
   nested-loop — and re-check the exact predicate.

A point meets a matching interval in EXACTLY one cell (its own), so no
dedup pass is needed.  Pick ``bucket`` near the typical interval
length: much smaller multiplies the interval fan-out, much larger
piles unrelated points into shared cells (both still correct).

Polars exposes this family as ``join_where`` (inequality joins); the
reference itself has no interval join — this extends the relational
primitives (SURVEY.md §2.B) with the standard event-window join.
"""

from __future__ import annotations

from datetime import timedelta
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_trading_spark._utils import duration_micros, parse_duration

__all__ = ["interval_join"]


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    point_on: str,
    start_on: str,
    end_on: str,
    by: str | Sequence[str] | None = None,
    bucket: str | timedelta = "15m",
    how: str = "inner",
) -> DataFrame:
    """Join each point row to every interval row with
    ``start <= point <= end`` (inclusive both ends), per ``by`` group.

    Keys are timestamps; ``bucket`` (a Polars-style duration string or a
    ``timedelta``) sets the grid width.  ``how`` is ``inner`` (matched
    pairs only) or ``left`` (keep unmatched points with null interval
    columns).
    Interval columns colliding with point columns get an ``_iv``
    suffix.  Rows with null keys or ``end < start`` never match.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    by_cols = [by] if isinstance(by, str) else list(by or [])
    if isinstance(bucket, str) and parse_duration(bucket)[1]:
        raise ValueError("weekly buckets are not supported for interval_join")
    width_us = duration_micros(bucket)

    cell = lambda c: F.floor(F.unix_micros(F.col(c)) / F.lit(width_us))  # noqa: E731

    iv_cols = [c for c in intervals.columns if c not in by_cols]
    renames = {c: (c + "_iv" if c in points.columns else c) for c in iv_cols}
    iv = intervals.where(
        F.col(start_on).isNotNull()
        & F.col(end_on).isNotNull()
        & (F.col(end_on) >= F.col(start_on))
    ).select(
        *by_cols,
        *[F.col(c).alias(renames[c]) for c in iv_cols],
        F.explode(
            F.sequence(cell(start_on), cell(end_on))
        ).alias("__cell"),
    )
    pt = points.where(F.col(point_on).isNotNull()).withColumn(
        "__cell", cell(point_on)
    )

    keys = [*by_cols, "__cell"]
    joined = pt.join(iv, keys, "inner").where(
        (F.col(point_on) >= F.col(renames[start_on]))
        & (F.col(point_on) <= F.col(renames[end_on]))
    )
    out_cols = [*points.columns, *[renames[c] for c in iv_cols]]
    matched = joined.select(*out_cols)
    if how == "inner":
        return matched
    # left: anti-join the unmatched points back in with null intervals.
    # The anti-join condition must be NULL-SAFE per column: a plain
    # column-list anti-join uses `=` semantics, under which a matched
    # point row carrying a null in any column never equals itself and
    # would be re-emitted as a spurious unmatched row.  eqNullSafe keys
    # still plan as a hash equi-join (Spark extracts EqualNullSafe into
    # join keys), so this stays shuffle-hash/broadcast, never
    # nested-loop.
    pts = points.alias("__ij_p")
    md = matched.select(*points.columns).distinct().alias("__ij_m")
    cond = None
    for c in points.columns:
        e = pts[c].eqNullSafe(md[c])
        cond = e if cond is None else (cond & e)
    unmatched = pts.join(md, cond, "left_anti")
    for c in iv_cols:
        unmatched = unmatched.withColumn(
            renames[c], F.lit(None).cast(intervals.schema[c].dataType)
        )
    return matched.unionByName(unmatched.select(*out_cols))
