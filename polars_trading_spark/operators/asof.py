"""As-of joins (backward / forward), keyed by grouping columns.

Spark has no native as-of join (reference relies on Polars
``join_asof``, polars_trading/labels/dynamic_labels.py:52-57,133-145).
We use the **union-marker** form, which is pure shuffle + window and
therefore linear and scale-safe (no range-join blowup):

1. union the left probes and right rows into one table with a marker;
2. within each ``by`` group ordered by the key, propagate the right
   rows' values to the probes with ``last(ignorenulls)`` over an
   unbounded-preceding frame (backward) or ``first(ignorenulls)`` over
   an unbounded-following frame (forward);
3. keep only the probe rows.

Tie semantics match Polars: matches are inclusive (``right.key <=
left.key`` for backward, ``>=`` for forward), so at equal keys right
rows sort before probes for backward and after probes for forward.

Tied right rows (several sharing the matched key in one group) resolve
by frame order when the right side carries ``SEQ_COL`` (``with_seq``):
backward takes the LAST tied row, as Polars does, and forward the
FIRST; ``nearest`` takes whichever of those two candidates is closer,
the backward one on equal distance.  The right's ``SEQ_COL`` is only
the tie order, never an output column.  Without it, which tied row a
probe gets depends on partitioning.

One shuffle on (by, key); at 100 TB this is the same cost profile as a
sort-merge join on the ``by`` key but without the per-key cross
product a range join would risk.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from polars_trading_spark._utils import SEQ_COL

__all__ = ["asof_join"]

_MARK = "__pts_is_right"
_KEY = "__pts_asof_key"
_MATCH_KEY = "__pts_matched_key"
_TIE = "__pts_asof_tie"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str | None = None,
    left_on: str | None = None,
    right_on: str | None = None,
    by: str | Sequence[str] | None = None,
    strategy: str = "backward",
    suffix: str = "_right",
    tolerance: Column | None = None,
) -> DataFrame:
    """Join each left row to the nearest right row at-or-before
    (``backward``), at-or-after (``forward``), or closest in either
    direction (``nearest``, ties to the backward match), per ``by``
    group.

    ``tolerance``: optional maximum key distance (a Column/interval
    expression, e.g. ``F.expr("INTERVAL 1 DAY")``); matches farther than
    this are nulled out, matching Polars' ``tolerance``.
    """
    if strategy not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"strategy must be 'backward', 'forward' or 'nearest', got {strategy!r}"
        )
    left_key = left_on or on
    right_key = right_on or on
    if left_key is None or right_key is None:
        raise ValueError("provide `on` or both `left_on` and `right_on`")
    by_cols = [by] if isinstance(by, str) else list(by or [])

    # Right value columns (everything except join/by keys and the tie
    # order), suffixed on collision with a left column — Polars
    # join_asof convention.
    tie = SEQ_COL in right.columns
    value_cols = [
        c for c in right.columns if c not in (right_key, SEQ_COL) and c not in by_cols
    ]
    renames = {c: (c + suffix if c in left.columns else c) for c in value_cols}

    right_m = right.select(
        *[F.col(c) for c in by_cols],
        F.col(right_key).alias(_KEY),
        F.col(right_key).alias(_MATCH_KEY),
        *[F.col(c).alias(renames[c]) for c in value_cols],
        F.lit(1).alias(_MARK),
        *([F.col(SEQ_COL).alias(_TIE)] if tie else []),
    )
    left_m = left.select(
        "*",
        F.col(left_key).alias(_KEY),
        F.lit(None).cast(right.schema[right_key].dataType).alias(_MATCH_KEY),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(renames[c])
            for c in value_cols
        ],
        F.lit(0).alias(_MARK),
        *([F.lit(None).cast(right.schema[SEQ_COL].dataType).alias(_TIE)] if tie else []),
    )
    # left_m carries all left columns; right_m gets nulls for them.
    unioned = left_m.unionByName(right_m, allowMissingColumns=True)

    # Both directions use a RUNNING frame (unbounded-preceding → current)
    # with last(ignorenulls): Spark evaluates running frames incrementally
    # in O(n), while an unbounded-FOLLOWING frame re-aggregates the
    # remaining rows per row — O(n²) per partition (measured 80s vs 0.5s
    # on 200k rows).  Forward as-of is just the backward scan over the
    # DESCENDING key order: the last right row seen descending is the
    # smallest right key ≥ the probe.  Right rows sort before probes at
    # equal keys in both directions, keeping matches inclusive.
    pick = lambda c: F.last(c, ignorenulls=True)  # noqa: E731
    # Tied right rows: the backward scan must see the last in frame
    # order last, the descending forward scan the first.
    tie_b = [F.col(_TIE).asc()] if tie else []
    tie_f = [F.col(_TIE).desc()] if tie else []
    carried = [
        c for c in unioned.columns if c not in renames.values() and c not in (_MATCH_KEY, _TIE)
    ]

    if strategy == "nearest":
        # Both directional scans over the SAME union and partitioning
        # (one ascending, one descending — second sort, no second
        # exchange), then the per-row closer candidate wins; ties take
        # the backward match (the at-or-before row).
        part = Window.partitionBy(*(by_cols or [F.lit(1)]))
        wb = part.orderBy(F.col(_KEY).asc(), F.col(_MARK).desc(), *tie_b).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        wf = part.orderBy(F.col(_KEY).desc(), F.col(_MARK).desc(), *tie_f).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        both = unioned.select(
            *carried,
            pick(F.col(_MATCH_KEY)).over(wb).alias("__mk_b"),
            pick(F.col(_MATCH_KEY)).over(wf).alias("__mk_f"),
            *[
                pick(F.col(renames[c])).over(wb).alias(renames[c] + "__b")
                for c in value_cols
            ],
            *[
                pick(F.col(renames[c])).over(wf).alias(renames[c] + "__f")
                for c in value_cols
            ],
        ).where(F.col(_MARK) == 0)

        mk_b, mk_f = F.col("__mk_b"), F.col("__mk_f")
        if tolerance is not None:
            ok_b = (F.col(_KEY) - mk_b) <= tolerance
            ok_f = (mk_f - F.col(_KEY)) <= tolerance
            mk_b = F.when(ok_b, mk_b)
            mk_f = F.when(ok_f, mk_f)
            both = both.withColumn("__mk_b", mk_b).withColumn("__mk_f", mk_f)
            mk_b, mk_f = F.col("__mk_b"), F.col("__mk_f")
        use_b = mk_f.isNull() | (
            mk_b.isNotNull() & ((F.col(_KEY) - mk_b) <= (mk_f - F.col(_KEY)))
        )
        # Exclude EXACTLY the helper columns generated above — suffix
        # matching would silently drop any user column named *__b/*__f
        # and leak __mk_b/__mk_f into the output.
        helpers = (
            {renames[c] + "__b" for c in value_cols}
            | {renames[c] + "__f" for c in value_cols}
            | {"__mk_b", "__mk_f"}
        )
        filled = both.select(
            *[
                c
                for c in both.columns
                if c not in helpers and c != _MATCH_KEY
            ],
            F.when(use_b, mk_b).otherwise(mk_f).alias(_MATCH_KEY),
            *[
                F.when(use_b & mk_b.isNotNull(), F.col(renames[c] + "__b"))
                .otherwise(
                    F.when(mk_f.isNotNull(), F.col(renames[c] + "__f"))
                )
                .alias(renames[c])
                for c in value_cols
            ],
        )
        match_name = (
            right_key if right_key not in left.columns else right_key + suffix
        )
        return filled.withColumnRenamed(_MATCH_KEY, match_name).drop(_MARK, _KEY)

    if strategy == "backward":
        order = [F.col(_KEY).asc(), F.col(_MARK).desc(), *tie_b]
    else:
        order = [F.col(_KEY).desc(), F.col(_MARK).desc(), *tie_f]
    w = (
        Window.partitionBy(*(by_cols or [F.lit(1)]))
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        *carried,
        pick(F.col(_MATCH_KEY)).over(w).alias(_MATCH_KEY),
        *[pick(F.col(renames[c])).over(w).alias(renames[c]) for c in value_cols],
    ).where(F.col(_MARK) == 0)

    if tolerance is not None:
        dist_ok = (
            (F.col(_KEY) - F.col(_MATCH_KEY) <= tolerance)
            if strategy == "backward"
            else (F.col(_MATCH_KEY) - F.col(_KEY) <= tolerance)
        )
        filled = filled.select(
            *[c for c in filled.columns if c not in renames.values() and c != _MATCH_KEY],
            F.when(dist_ok, F.col(_MATCH_KEY)).alias(_MATCH_KEY),
            *[
                F.when(dist_ok, F.col(renames[c])).alias(renames[c])
                for c in value_cols
            ],
        )

    # Surface the matched right key (Polars keeps the right_on column when
    # its name differs from left_on); suffix it on collision with left.
    match_name = right_key if right_key not in left.columns else right_key + suffix
    return filled.withColumnRenamed(_MATCH_KEY, match_name).drop(_MARK, _KEY)
