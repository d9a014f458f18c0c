"""Smoke tests for the benchmark: the tape and reference checks on their
own, then every workload once at tiny size through the real command.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

from checks import Reference  # noqa: E402
from tape import make_tape  # noqa: E402


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_tape_is_seeded_unique_and_time_ordered():
    a, b = make_tape(7, 5_000, 4, 3), make_tape(7, 5_000, 4, 3)
    assert np.array_equal(a.ts_us, b.ts_us) and np.array_equal(a.price, b.price)
    assert not np.array_equal(a.price, make_tape(8, 5_000, 4, 3).price)
    assert len(a) == 5_000 and (np.diff(a.ts_us) >= 0).all()
    for s in range(4):
        ts = a.ts_us[a.symbol == s]
        assert (np.diff(ts) > 0).all()
    assert (a.size % 100 == 0).all() and (a.size > 0).all()
    assert len(np.unique(a.day)) == 3


def test_cusum_reference_fires_at_a_realistic_rate():
    ref = Reference(make_tape(3, 4_000, 2, 2))
    events = ref.cusum_events(0.505)
    assert 4 < len(events) < 400
    assert {side for _, _, side in events} == {-1, 1}


def _run(workload: str, trace: int, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    return out


@pytest.mark.parametrize("workload", ["bar_sampling", "tick_labeling"])
def test_batch_workload_reports_every_end_to_end_metric(workload):
    out = _run(workload, 0)
    spec = _spec()
    assert list(out["metrics"]) == [m["name"] for m in spec["end_to_end"]]
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_traced_run_reports_every_per_layer_metric(tmp_path):
    out = _run("tick_labeling", 1, "--spans-out", str(tmp_path / "spans.json"))
    assert list(out["metrics"]) == [m["name"] for m in _spec()["per_layer"]]
    assert out["metrics"]["operators.features.frac_diff.jobs"]["value"] >= 1
    assert out["metrics"]["operators.features.frac_diff.tasks"]["value"] >= 1
    assert out["metrics"]["operators.bars.time_bars.jobs"]["value"] == 0  # bypassed layer
    spans = json.loads((tmp_path / "spans.json").read_text())
    by_id = {s["id"]: s for s in spans}
    barrier = next(s for s in spans if s["name"] == "operators.dynamic_labels.vertical_barrier")
    assert by_id[barrier["parent"]]["name"] == "operators.sample_weights.sample_weights"
    assert all(s["start"] <= s["end"] and s["run_id"] == spans[0]["run_id"] for s in spans)


def test_live_bars_replays_into_streaming_bars():
    out = _run("live_bars", 0)
    assert list(out["metrics"]) == [m["name"] for m in _spec()["end_to_end"]]


def test_refuses_to_run_without_the_program(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in BENCH.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bar_sampling", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""
