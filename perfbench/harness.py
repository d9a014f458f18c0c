"""Process, environment and result plumbing shared by every workload."""

from __future__ import annotations

import os
import shlex
import signal
import subprocess
import tempfile
import threading
import time
from pathlib import Path

__all__ = [
    "CPUS",
    "Counts",
    "PeakRss",
    "become_subreaper",
    "descendants",
    "prepare_env",
    "reap_children",
    "result",
    "stop_spark",
    "tree_cpu_seconds",
]

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CPUS = "4"


# -- process tree ----------------------------------------------------------


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def descendants(pid: int) -> list[int]:
    tree, out, todo = _children(), [], [pid]
    while todo:
        for child in tree.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_seconds(pid: int = 0) -> float:
    """User + system CPU seconds of the process tree, including children
    that have exited and been reaped (their parent's cutime/cstime)."""
    pid = pid or os.getpid()
    ticks = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the resident memory of this process tree until stopped."""

    def __init__(self, interval: float = 0.2):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(interval,), name="rss-sampler", daemon=True)

    def _loop(self, interval: float) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def stop_spark(spark) -> None:
    """Stop the session and its JVM, then wait for every child to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    reap_children()


def become_subreaper() -> None:
    """Adopt orphaned descendants (Python workers outliving the JVM), so
    ``reap_children`` can wait for them too."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def reap_children(timeout: float = 30.0) -> None:
    """Wait until no descendant is left; kill what remains at ``timeout``."""
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        kids = descendants(os.getpid())
        if not kids:
            return
        if not killed and time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.1)


# -- environment -----------------------------------------------------------


def prepare_env(work: Path, trace: bool) -> None:
    """Point every writer (Spark local dirs, JVM and Python temp files,
    the event log) inside ``work`` and pin the core count, before the
    JVM starts."""
    for sub in ("local", "tmp", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir
    # says; both JVMs (the launcher and the driver) go without it.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from spans import event_log_conf

    submit = [
        "--conf", f"spark.driver.extraJavaOptions=-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        submit += event_log_conf(str(work / "eventlog"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])


class Counts:
    """Operations attempted and failed in one run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0


def result(counts: Counts, metrics: dict) -> dict:
    """The result line: ``metrics`` maps name -> (value, unit)."""
    return {
        "correct": counts.failed == 0,
        "attempted": counts.attempted,
        "failed": counts.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
