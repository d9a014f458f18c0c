#!/usr/bin/env python3
"""Trading-pipeline benchmark: one command per workload.

    python3 perfbench/run.py --workload bar_sampling --seed 1 --seconds 12 --trace 0

Run from the repository root.  The command generates a seeded tick tape,
starts a session through ``polars_trading_spark.session.get_spark`` at
program defaults, runs an untimed warm-up pass on a quarter-size tape
whose collected outputs are checked against generator-derived
references, then an untimed noop pass on the full tape, then repeats
timed passes (every output consumed whole by the ``noop`` sink)
for ``--seconds``.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  A
failed output check makes the exit code nonzero.

Everything the run writes lives under ``.perfbench_work/`` in the
repository root and is removed at exit; every process it starts (the
JVM and its Python workers) is stopped and waited for.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # wall-clock set-up is logged from here

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

from harness import (  # noqa: E402
    ROOT,
    Counts,
    PeakRss,
    become_subreaper,
    prepare_env,
    reap_children,
    result,
    stop_spark,
    tree_cpu_seconds,
)
from workloads import BUILD_ONLY_SPANS, SPANS, WORKLOADS, batch_workload  # noqa: E402


def _materialise(op, df, span, sink, counts: Counts, log):
    """One operation: the call, then the action consuming its output."""
    from polars_trading_spark import release_persisted

    counts.attempted += 1
    try:
        with span(op.span):
            out = op.build(df, span)
        with span(op.span + ".noop"):
            return sink(out)
    except Exception:
        counts.failed += 1
        log(f"{op.span} failed:\n{traceback.format_exc()}")
        return None
    finally:
        release_persisted()


def _noop(out) -> None:
    out.write.format("noop").mode("overwrite").save()


def _collected_pass(spark, tape_dir: str, wl, counts: Counts, log) -> dict:
    """An untimed pass whose outputs are collected whole, for the checks."""
    from polars_trading_spark.sources.readers import read_trades
    from spans import no_span

    df = read_trades(spark, tape_dir)
    return {op.span: _materialise(op, df, no_span, lambda o: o.toPandas(), counts, log) for op in wl.ops}


@dataclasses.dataclass
class Pass:
    """One timed pass: wall and process-tree CPU seconds, whole and per op."""

    wall: float
    cpu: float
    op_wall: list[float]
    op_cpu: list[float]


def timed_pass(spark, tape_dir: str, wl, span, counts: Counts, log) -> Pass:
    from polars_trading_spark.sources.readers import read_trades

    c0, t0 = tree_cpu_seconds(), time.perf_counter()
    op_wall, op_cpu = [], []
    with span("perfbench.pass"):
        with span("sources.readers.read_trades"):
            df = read_trades(spark, tape_dir)
        for op in wl.ops:
            c, t = tree_cpu_seconds(), time.perf_counter()
            _materialise(op, df, span, _noop, counts, log)
            op_wall.append(time.perf_counter() - t)
            op_cpu.append(tree_cpu_seconds() - c)
    return Pass(time.perf_counter() - t0, tree_cpu_seconds() - c0, op_wall, op_cpu)


def end_to_end(n_ticks: int, setup_s: float, passes: list[Pass], log) -> dict:
    """The end-to-end metrics, in process-tree CPU time: on a shared host
    the wall time of the same pass swings far more than the CPU it burns.
    Wall-clock figures, and the per-operation CPU median (JIT compilation
    runs asynchronously, so it lands on whichever operation follows),
    go to the log."""
    wall = statistics.median(p.wall for p in passes)
    op_wall = statistics.median(w for p in passes for w in p.op_wall)
    op_cpu = statistics.median(c for p in passes for c in p.op_cpu)
    log(f"timed passes: wall {', '.join(f'{p.wall:.2f}' for p in passes)}s, "
        f"cpu {', '.join(f'{p.cpu:.2f}' for p in passes)}s; wall ticks/s {n_ticks / wall:.1f}, "
        f"op p50 {op_wall * 1000:.1f} ms wall, {op_cpu * 1000:.1f} ms cpu")
    return {
        "setup_s": (setup_s, "s"),
        "ticks_per_cpu_s": (n_ticks / statistics.median(p.cpu for p in passes), "ticks/cpu-s"),
    }


def run_batch(args, work: Path, log) -> dict:
    from checks import Reference
    from polars_trading_spark.session import get_spark
    from polars_trading_spark.sources.readers import read_trades
    from spans import Recorder, no_span, task_figures
    from tape import make_tape

    counts = Counts()
    with PeakRss() as rss:
        t = time.perf_counter()
        spark = get_spark("perfbench")
        start_s = time.perf_counter() - t
        try:
            spark.sparkContext.setLogLevel("ERROR")
            wl = batch_workload(args.workload, args.seed, args.scale)
            tape = make_tape(args.seed, wl.n_ticks, wl.n_symbols, wl.n_days)
            tape_dir = tape.write_daily(str(work / "tape"))
            # The untimed warm-up pass pays for code generation and the bulk
            # of JIT compilation, which depend on the plans rather than the
            # data, so it runs on a quarter-size tape from the same generator;
            # its outputs are collected whole and checked.
            small = make_tape(args.seed, max(wl.n_ticks // 4, 2_000), wl.n_symbols, wl.n_days)
            outputs = _collected_pass(spark, small.write_daily(str(work / "small")), wl, counts, log)
            # The first full-tape pass still pays for JIT compilation and
            # Python worker start-up, so its cost swings with the host's
            # load; it runs untimed.
            timed_pass(spark, tape_dir, wl, no_span, counts, log)

            t_first = time.perf_counter()
            setup_s, setup_wall = tree_cpu_seconds(), t_first - _T0
            passes = []
            if not args.trace:
                while not passes or time.perf_counter() - t_first + passes[-1].wall <= args.seconds:
                    passes.append(timed_pass(spark, tape_dir, wl, no_span, counts, log))
            else:
                # Untraced, traced, untraced.  The first pass still carries
                # JIT compilation, so the overhead compares the traced pass
                # with the untraced one after it; passes keep getting slightly
                # cheaper, so this errs towards overstating the overhead.
                rec = Recorder(spark, f"{args.workload}-{args.seed}")
                passes.append(timed_pass(spark, tape_dir, wl, no_span, counts, log))
                traced = timed_pass(spark, tape_dir, wl, rec.span, counts, log)
                passes.append(timed_pass(spark, tape_dir, wl, no_span, counts, log))
                with rec.span("sources.scan"):
                    _noop(read_trades(spark, tape_dir))
        finally:
            stop_spark(spark)

    log(f"setup {setup_s:.2f} cpu-s, {setup_wall:.2f}s wall; session {start_s:.2f}s; peak rss {rss.peak / 2**20:.0f} MiB")
    e2e = end_to_end(len(tape), setup_s, passes, log)
    ref = Reference(small)
    for op in wl.ops:
        pdf = outputs[op.span]
        errors = ["no output"] if pdf is None else op.check(pdf, ref, outputs)
        if errors:
            counts.failed += 1
            log(f"{op.span} check failed: {'; '.join(errors)}")
    if not args.trace:
        return result(counts, e2e)

    rec.write(str(work / "spans.json"))
    if args.spans_out:
        shutil.copy(work / "spans.json", args.spans_out)
    figures = task_figures(str(work / "eventlog"))

    def named(name):
        return [s for s in rec.spans if s["name"] == name]

    metrics = {"session.get_spark.start_s": (start_s, "s")}
    for name in SPANS:
        calls, actions = named(name), named(name + ".noop")
        jobs = [j for s in calls + actions for j in s["job_ids"]]
        fig = [figures.get(j, {}) for j in jobs]
        pdf = outputs.get(name)
        metrics.update({
            f"{name}.build_s": (sum(rec.self_time(s) for s in calls), "s"),
            f"{name}.exec_s": (sum(s["end"] - s["start"] for s in actions), "s"),
            f"{name}.jobs": (len(jobs), "count"),
            f"{name}.tasks": (sum(f.get("tasks", 0) for f in fig), "count"),
            f"{name}.task_busy_s": (sum(f.get("busy_s", 0.0) for f in fig), "s"),
            f"{name}.task_wait_s": (sum(f.get("wait_s", 0.0) for f in fig), "s"),
            f"{name}.shuffle_mb": (sum(f.get("shuffle_mb", 0.0) for f in fig), "MiB"),
            f"{name}.rows_out": (0 if pdf is None else len(pdf), "count"),
        })
    for name in BUILD_ONLY_SPANS:
        metrics[f"{name}.build_s"] = (sum(rec.self_time(s) for s in named(name)), "s")
    metrics["sources.scan.exec_s"] = (sum(s["end"] - s["start"] for s in named("sources.scan")), "s")
    metrics["perfbench.pass.wall_s"] = (traced.wall, "s")
    metrics["perfbench.process.peak_rss_mb"] = (rss.peak / 2**20, "MiB")
    metrics["perfbench.trace.overhead_cpu_s"] = (traced.cpu - passes[-1].cpu, "s")
    return result(counts, metrics)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="how long the timed passes run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0, help="1: traced run, per-layer metrics")
    ap.add_argument("--scale", type=float, default=1.0, help="tape size multiplier (smoke tests use < 1)")
    ap.add_argument("--spans-out", help="traced runs: also copy the span file here")
    return ap.parse_args(argv)


def _terminate(signum, frame) -> None:
    """Turn SIGTERM into SystemExit so the cleanup below runs, once."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "polars_trading_spark" / "__init__.py").is_file():
        print(f"perfbench: no polars_trading_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, str(ROOT))
    become_subreaper()
    signal.signal(signal.SIGTERM, _terminate)

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    log = lambda msg: print(f"perfbench: {msg}", file=sys.stderr, flush=True)  # noqa: E731
    try:
        prepare_env(work, bool(args.trace))
        if args.workload == "live_bars":
            from live import run_live

            res = run_live(args, work, log, _T0)
        else:
            res = run_batch(args, work, log)
    finally:
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
