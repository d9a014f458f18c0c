"""live_bars: a closed-loop replay of a tick tape into the streaming bar
operators.

One feeder (the main thread) lands a parquet file of ``FILE_TICKS``
trades in the source directory, then waits until both streaming queries
(``streaming_volume_bars`` into a memory sink, ``streaming_time_bars``
into ``noop``) report its rows through a ``StreamingQueryListener``, and
only then lands the next file.  ``processAllAvailable()`` is not used:
the volume-bar state timeout keeps scheduling no-data micro-batches, so
it need not return.  Checkpoints live in the run's own work directory,
fresh every run.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from harness import Counts, PeakRss, result, stop_spark, tree_cpu_seconds
from tape import make_tape

__all__ = ["run_live"]

N_TICKS, N_SYMBOLS, N_DAYS = 60_000, 20, 2
FILE_TICKS = 5_000
WARMUP_FILES = 2
VOLUME_BAR = 10_000
TIME_BAR = "1m"
BATCH_TIMEOUT_S = 150.0

QUERIES = {
    "volume": "streaming.bars.streaming_volume_bars",
    "time": "streaming.bars.streaming_time_bars",
}
STREAM_METRICS = ("addBatch_ms", "queryPlanning_ms", "walCommit_ms", "state_update_ms", "state_commit_ms", "state_rows")


def _listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class RowCounter(StreamingQueryListener):
        """Rows processed and one progress record per micro-batch, by query."""

        def __init__(self):
            self.rows: dict[str, int] = {}
            self.progress: dict[str, list[dict]] = {}
            self.cv = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            state = p.stateOperators[0] if p.stateOperators else None
            rec = {
                "at": time.perf_counter(),
                "rows": p.numInputRows,
                "addBatch_ms": p.durationMs.get("addBatch", 0),
                "queryPlanning_ms": p.durationMs.get("queryPlanning", 0),
                "walCommit_ms": p.durationMs.get("walCommit", 0),
                "state_update_ms": state.allUpdatesTimeMs if state else 0,
                "state_commit_ms": state.commitTimeMs if state else 0,
                "state_rows": state.numRowsTotal if state else 0,
            }
            with self.cv:
                qid = str(p.id)
                self.rows[qid] = self.rows.get(qid, 0) + p.numInputRows
                self.progress.setdefault(qid, []).append(rec)
                self.cv.notify_all()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return RowCounter()


def _final_bars(stream_pdf, batch_pdf) -> list[str]:
    """Stream bars after supersede (the final row, else the latest
    snapshot, of each bar) must equal the batch operator's bars."""
    if stream_pdf.empty:
        return ["live_bars: no streamed bars"]
    latest = (
        stream_pdf.sort_values(["is_final", "n_trades"])
        .groupby(["symbol", "bar_date", "bar_id"], as_index=False)
        .tail(1)
    )
    cols = ["symbol", "timestamp_start", "timestamp_end", "open", "high", "low", "close", "volume", "n_trades"]
    got = latest[cols + ["vwap"]].sort_values(cols[:3]).reset_index(drop=True)
    want = batch_pdf[cols + ["vwap"]].sort_values(cols[:3]).reset_index(drop=True)
    if len(got) != len(want):
        return [f"live_bars: {len(got)} streamed bars != {len(want)} batch bars"]
    errors = []
    for c in cols:
        if not (got[c].to_numpy() == want[c].to_numpy()).all():
            errors.append(f"live_bars: column {c} differs from batch volume_bars")
    if not np.allclose(got["vwap"], want["vwap"], rtol=1e-9, atol=0.0):
        errors.append("live_bars: vwap differs from batch volume_bars")
    return errors


def run_live(args, work: Path, log, t0: float) -> dict:
    from polars_trading_spark.operators.bars import volume_bars
    from polars_trading_spark.session import get_spark
    from polars_trading_spark.sources.readers import read_trades, trades_schema
    from polars_trading_spark.streaming.bars import streaming_time_bars, streaming_volume_bars

    counts = Counts()
    live = work / "live"
    src, staging = live / "in", live / "staging"
    for d in (src, staging):
        d.mkdir(parents=True)
    with PeakRss() as rss:
        t = time.perf_counter()
        spark = get_spark("perfbench")
        start_s = time.perf_counter() - t
        try:
            spark.sparkContext.setLogLevel("ERROR")
            n_ticks = max(4 * FILE_TICKS, int(N_TICKS * args.scale))
            tape = make_tape(args.seed, n_ticks, N_SYMBOLS, N_DAYS)
            listener = _listener()
            spark.streams.addListener(listener)
            stream = spark.readStream.schema(trades_schema()).option("maxFilesPerTrigger", 1).parquet(str(src))
            queries = {
                "volume": streaming_volume_bars(stream, bar_size=VOLUME_BAR)
                .writeStream.format("memory").queryName("perfbench_volume_bars").outputMode("append")
                .option("checkpointLocation", str(live / "ck_volume")).start(),
                "time": streaming_time_bars(stream, bar_size=TIME_BAR)
                .writeStream.format("noop").outputMode("append")
                .option("checkpointLocation", str(live / "ck_time")).start(),
            }
            ids = {k: str(q.id) for k, q in queries.items()}

            fed = 0

            def feed(k: int) -> tuple[float, float] | None:
                """Land file k; wall and process-tree CPU seconds until both
                queries report its rows."""
                nonlocal fed
                rows = slice(k * FILE_TICKS, min(len(tape), (k + 1) * FILE_TICKS))
                tmp = staging / f"part-{k:05d}.parquet"
                pq.write_table(tape.table(rows), tmp)
                fed += rows.stop - rows.start
                counts.attempted += 1
                c0, landed = tree_cpu_seconds(), time.perf_counter()
                os.rename(tmp, src / tmp.name)
                with listener.cv:
                    done = listener.cv.wait_for(
                        lambda: all(listener.rows.get(i, 0) >= fed for i in ids.values()), timeout=BATCH_TIMEOUT_S
                    )
                if not done:
                    counts.failed += 1
                    log(f"live_bars: file {k} not processed within {BATCH_TIMEOUT_S:.0f}s")
                    return None
                return time.perf_counter() - landed, tree_cpu_seconds() - c0

            n_files = -(-len(tape) // FILE_TICKS)
            for k in range(WARMUP_FILES):
                feed(k)
            t_first = time.perf_counter()
            setup_s, setup_wall = tree_cpu_seconds(), t_first - t0
            latencies, cpus, timed_ticks = [], [], 0
            for k in range(WARMUP_FILES, n_files):
                took = feed(k)
                if took is None:
                    break
                latencies.append(took[0])
                cpus.append(took[1])
                timed_ticks += min(len(tape), (k + 1) * FILE_TICKS) - k * FILE_TICKS
                if time.perf_counter() - t_first + took[0] > args.seconds:
                    break
            t_last = time.perf_counter()
            for q in queries.values():
                q.stop()
            streamed = spark.table("perfbench_volume_bars").toPandas()
            batch = volume_bars(read_trades(spark, str(src)), bar_size=VOLUME_BAR).toPandas()
        finally:
            stop_spark(spark)

    errors = _final_bars(streamed, batch)
    if errors:
        counts.failed += 1
        log("; ".join(errors))
    if not latencies:
        counts.failed += 1
        return result(counts, {})

    log(f"timed batches: wall {', '.join(f'{w:.2f}' for w in latencies)}s, "
        f"cpu {', '.join(f'{c:.2f}' for c in cpus)}s; wall ticks/s {timed_ticks / sum(latencies):.1f}, "
        f"wall batch p50 {statistics.median(latencies) * 1000:.1f} ms; setup {setup_wall:.2f}s wall; "
        f"peak rss {rss.peak / 2**20:.0f} MiB")
    if not args.trace:
        return result(counts, {
            "setup_s": (setup_s, "s"),
            "ticks_per_cpu_s": (timed_ticks / sum(cpus), "ticks/cpu-s"),
        })
    metrics = {"session.get_spark.start_s": (start_s, "s"), "perfbench.process.peak_rss_mb": (rss.peak / 2**20, "MiB")}
    for key, name in QUERIES.items():
        window = [p for p in listener.progress.get(ids[key], []) if t_first <= p["at"] <= t_last]
        data = [p for p in window if p["rows"] > 0]
        for m in STREAM_METRICS:
            metrics[f"{name}.{m}"] = (statistics.median(p[m] for p in data) if data else 0.0,
                                      "count" if m == "state_rows" else "ms")
        metrics[f"{name}.micro_batches"] = (len(window), "count")
        metrics[f"{name}.data_batch_ratio"] = (len(data) / len(window) if window else 0.0, "ratio")
    return result(counts, metrics)
