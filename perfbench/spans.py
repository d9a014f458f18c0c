"""Traced-run recorder: spans around calls into each layer.

A span records name, start, end, parent and run id.  While a span is
open its Spark job group is set, so every job the call (or the action
consuming its output) launches is attributed to it; at span end the
job ids come from ``statusTracker``.  Task-level figures (executor run
time, scheduler delay, shuffle bytes) are parsed from the Spark event
log once the session has stopped.  Spans stay in memory and are written
to a JSON file at the end of the run.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

__all__ = ["Recorder", "no_span", "event_log_conf", "task_figures"]


@contextlib.contextmanager
def no_span(name: str):
    """The span of untraced passes: records nothing."""
    yield


def event_log_conf(log_dir: str) -> list[str]:
    """spark-submit arguments that turn on a plain, single-file event log."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
    ]


class Recorder:
    """Spans for one traced pass; ``span`` is the context manager."""

    def __init__(self, spark, run_id: str):
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "group": f"{self.run_id}:{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["group"])
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["job_ids"] = sorted(self._sc.statusTracker().getJobIdsForGroup(rec["group"]))
            self._stack.pop()
            self._set_group(self._stack[-1]["group"] if self._stack else None)

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part its child spans cover."""
        children = sum(s["end"] - s["start"] for s in self.spans if s["parent"] == rec["id"])
        return rec["end"] - rec["start"] - children

    def write(self, path: str) -> None:
        fields = ("id", "name", "start", "end", "parent", "run_id", "job_ids")
        with open(path, "w") as fh:
            json.dump([{k: s[k] for k in fields} for s in self.spans], fh, indent=1)


def task_figures(log_dir: str) -> dict[int, dict[str, float]]:
    """Per job id: tasks, executor run seconds, scheduler-delay seconds and
    shuffle MiB written, from the (finished) event log in ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(paths)}")
    stage_job: dict[int, int] = {}
    per_job: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(("tasks", "busy_s", "wait_s", "shuffle_mb"), 0.0))
    with open(paths[0]) as fh:
        for line in fh:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])  # skipped stages ran under their first job
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                job = stage_job.get(ev["Stage ID"])
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                if job is None:
                    continue
                run_ms = m.get("Executor Run Time", 0)
                overhead_ms = m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
                took_ms = info["Finish Time"] - info["Launch Time"]
                wait_ms = max(0, took_ms - run_ms - overhead_ms - info.get("Getting Result Time", 0))
                fig = per_job[job]
                fig["tasks"] += 1
                fig["busy_s"] += run_ms / 1000.0
                fig["wait_s"] += wait_ms / 1000.0
                fig["shuffle_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20
    return per_job
