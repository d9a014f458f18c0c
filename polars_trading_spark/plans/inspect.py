"""Physical-plan inspection: the engine's performance contracts as code.

These helpers read the executed/physical plan so tests can assert the
properties that matter at 100 TB — how many shuffles a pipeline incurs,
whether Python stages crept into a native path, whether column pruning
reached the parquet scan, and that no window uses the O(n²)
unbounded-following frame (see operators/asof.py).  ``codegen_stats``
reads the session's whole-stage-codegen compilation counters, so a
caller can see whether repeated passes recompile their plans.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "codegen_stats",
    "plan_string",
    "count_exchanges",
    "count_keyed_exchanges",
    "count_python_stages",
    "has_unbounded_following_frame",
    "scan_columns",
    "unbounded_global_windows",
]


def plan_string(df: DataFrame, mode: str = "physical") -> str:
    qe = df._jdf.queryExecution()
    if mode == "executed":
        return qe.executedPlan().toString()
    if mode == "physical":
        return qe.sparkPlan().toString()
    if mode == "optimized":
        return qe.optimizedPlan().toString()
    raise ValueError(mode)


def codegen_stats(spark: SparkSession) -> tuple[int, float]:
    """``(compilations, compile_ms)`` the JVM's code generator has done
    so far: the count of generated classes Janino compiled and the
    total time it took.  Both are cumulative over the JVM's life; take
    the difference around a run.  A steady pass that reuses the
    session's codegen cache (see ``session.py``) compiles about none.

    Local mode runs the driver and executors in one JVM, so this counts
    every compilation; on a cluster it counts the driver's only."""
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compilations = metrics.METRIC_COMPILATION_TIME().getCount()
    return compilations, codegen.CodeGenerator.compileTime() / 1e6


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges (excluding broadcast exchanges and
    reused exchanges).

    Reads the EXECUTED plan: exchanges are inserted by
    EnsureRequirements during plan preparation, so they do not exist
    yet in ``sparkPlan()`` — counting there always returned 0 and made
    every shuffle contract vacuous (caught in round 5)."""
    plan = plan_string(df, "executed")
    return len(re.findall(r"\bExchange (?:hash|range|SinglePartition|RoundRobin)", plan))


def count_keyed_exchanges(df: DataFrame) -> int:
    """Data-placement shuffles the operator's ALGORITHM requires.

    Round 14: counts exchanges by their ORIGIN tag instead of their
    partitioning kind — the planner marks shuffles it inserted to
    satisfy distribution requirements ``ENSURE_REQUIREMENTS``, while
    explicit ``repartition`` calls carry ``REPARTITION_BY_NUM`` /
    ``REPARTITION_BY_COL``.  In this engine every explicit repartition
    is a parallelism guard or a staging barrier (the payload-scan
    guard in sources/tables.py, the edge-table guard in
    ``connected_components``, the ``_tokenized`` barrier) —
    small-input-only or common-subexpression-staging exchanges, not
    algorithmic data placement — so "zero data-dependent shuffles"
    contracts assert on this count and bound the total with ``count_exchanges``.  (The
    pre-r14 heuristic keyed on RoundRobin vs hash partitioning; the
    payload-scan guard now hash-partitions by the row id to skip
    round-robin's sort-before-repartition of the full payload.)"""
    plan = plan_string(df, "executed")
    return len(
        re.findall(
            r"\bExchange (?:hash|range|SinglePartition)[^\n]*ENSURE_REQUIREMENTS",
            plan,
        )
    )


def count_python_stages(df: DataFrame) -> int:
    """Python-execution islands (pandas UDFs / grouped-map / mapInPandas)."""
    plan = plan_string(df)
    return sum(
        plan.count(op)
        for op in ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython", "BatchEvalPython")
    )


def has_unbounded_following_frame(df: DataFrame) -> bool:
    """True if any window frame extends to unbounded FOLLOWING — the
    frame shape Spark evaluates quadratically per partition."""
    plan = plan_string(df)
    return bool(re.search(r"specifiedwindowframe\([^)]*unboundedfollowing\$\(\)\)", plan))


_BOUNDING_NODES = re.compile(
    r"HashAggregate|SortAggregate|ObjectHashAggregate|"
    r"TakeOrderedAndProject|GlobalLimit|CollectLimit"
)


_ORDER_DIR = re.compile(r"\b(?:ASC|DESC) NULLS (?:FIRST|LAST)$")


def _windowspec_partition_count(line: str) -> int | None:
    """Number of partition columns in the first ``windowspecdefinition``
    on a plan line, or None when the spec can't be parsed (truncated
    line).  The spec's argument order is fixed — partition columns,
    then order columns (each suffixed ``ASC|DESC NULLS FIRST|LAST``),
    then the ``specifiedwindowframe(...)`` — so partition columns are
    exactly the top-level args before the first order/frame arg."""
    i = line.find("windowspecdefinition(")
    if i < 0:
        return None
    depth, cur, args = 1, [], []
    for ch in line[i + len("windowspecdefinition(") :]:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                args.append("".join(cur).strip())
                break
        if ch == "," and depth == 1:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    else:  # never closed — truncated plan line
        return None
    n = 0
    for a in args:
        if a.startswith("specifiedwindowframe(") or _ORDER_DIR.search(a):
            break
        n += 1
    return n


def unbounded_global_windows(df: DataFrame) -> list[str]:
    """Window nodes with an EMPTY partition spec whose input subtree has
    no cardinality-bounding operator (aggregate or limit).

    A global window funnels every row through one task; it is only
    scale-safe when something upstream already collapsed cardinality
    (one row per bucket/shard/top-k).  Globality is read from the
    ``windowspecdefinition`` argument list (bracket-group counting is
    ambiguous: ``Window [exprs], [order]`` for a global ordered window
    and ``Window [exprs], [partition]`` for a partitioned unordered one
    both print two groups).  The subtree is taken as the more-indented
    lines that follow (Spark prints children below their parent)."""
    lines = plan_string(df).splitlines()

    def indent(s: str) -> int:
        return len(re.match(r"^[\s:+|-]*", s).group(0))

    offenders = []
    for i, ln in enumerate(lines):
        m = re.match(r"^[\s:+|-]*(?:\*\(\d+\)\s*)?Window\s+(.*)", ln)
        if m is None:
            continue
        nparts = _windowspec_partition_count(m.group(1))
        if nparts is None or nparts > 0:
            # unparseable (truncated) specs are skipped rather than
            # flagged — the contract tests pin known-global plans
            continue
        d = indent(ln)
        sub = []
        for nxt in lines[i + 1 :]:
            if nxt.strip() and indent(nxt) <= d:
                break
            sub.append(nxt)
        if not _BOUNDING_NODES.search("\n".join(sub)):
            offenders.append(ln.strip()[:160])
    return offenders


def scan_columns(df: DataFrame) -> dict[str, list[str]]:
    """Parquet scan → ReadSchema column list, for pruning assertions."""
    plan = plan_string(df, "executed")
    out: dict[str, list[str]] = {}
    for m in re.finditer(r"FileScan parquet.*?\[(.*?)\].*?ReadSchema: struct<(.*?)>", plan):
        cols = [c.split(":")[0].strip() for c in m.group(2).split(",") if c.strip()]
        out[m.group(1)[:60]] = cols
    return out
