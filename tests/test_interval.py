"""Interval join (operators/interval.py) vs a brute-force reference."""

from __future__ import annotations

import datetime as dt

import pytest

from polars_trading_spark.operators.interval import interval_join

BASE = dt.datetime(2024, 1, 1)


def _points(spark, rows):
    return spark.createDataFrame(
        [(s, BASE + dt.timedelta(minutes=m), i) for i, (s, m) in enumerate(rows)],
        "symbol string, ts timestamp, pid long",
    )


def _intervals(spark, rows):
    return spark.createDataFrame(
        [
            (s, BASE + dt.timedelta(minutes=a), BASE + dt.timedelta(minutes=b), j)
            for j, (s, a, b) in enumerate(rows)
        ],
        "symbol string, w_start timestamp, w_end timestamp, iid long",
    )


PTS = [("A", 0), ("A", 10), ("A", 29), ("A", 30), ("A", 31), ("A", 200), ("B", 10)]
IVS = [
    ("A", 0, 30),     # overlaps next window
    ("A", 25, 90),
    ("A", 500, 600),  # empty
    ("B", 5, 15),
    ("A", 50, 40),    # inverted -> never matches
]


def _ref_pairs():
    out = set()
    for pid, (ps, pm) in enumerate(PTS):
        for iid, (s, a, b) in enumerate(IVS):
            if s == ps and a <= b and a <= pm <= b:
                out.add((pid, iid))
    return out


@pytest.mark.parametrize("bucket", ["15m", "1m", "4h", dt.timedelta(minutes=7)])
def test_matches_brute_force_at_any_bucket_width(spark, bucket):
    got = {
        (r["pid"], r["iid"])
        for r in interval_join(
            _points(spark, PTS),
            _intervals(spark, IVS),
            point_on="ts",
            start_on="w_start",
            end_on="w_end",
            by="symbol",
            bucket=bucket,
        ).collect()
    }
    assert got == _ref_pairs()


def test_left_join_keeps_unmatched_points(spark):
    out = interval_join(
        _points(spark, PTS),
        _intervals(spark, IVS),
        point_on="ts",
        start_on="w_start",
        end_on="w_end",
        by="symbol",
        how="left",
    ).collect()
    matched = {(r["pid"], r["iid"]) for r in out if r["iid"] is not None}
    assert matched == _ref_pairs()
    unmatched = {r["pid"] for r in out if r["iid"] is None}
    assert unmatched == {5}  # A@200m falls in no window
    # inclusive boundaries: point exactly at w_end (A@30 in [0,30]) matched
    assert (3, 0) in matched


def test_left_join_null_column_point_not_duplicated(spark):
    # Regression: a MATCHED point row carrying a null in a non-key
    # column must appear exactly once.  The old left-anti recovery
    # joined on all point columns with `=` semantics, under which the
    # null row never equals itself and was re-emitted as a spurious
    # unmatched row (3 output rows instead of 2).
    pts = spark.createDataFrame(
        [
            ("A", BASE + dt.timedelta(minutes=10), None),   # matched, null payload
            ("A", BASE + dt.timedelta(minutes=200), 7),     # unmatched
        ],
        "symbol string, ts timestamp, payload long",
    )
    out = interval_join(
        pts,
        _intervals(spark, IVS),
        point_on="ts",
        start_on="w_start",
        end_on="w_end",
        by="symbol",
        how="left",
    ).collect()
    assert len(out) == 2  # null-payload point matches window 0 only, plus 1 unmatched
    matched = [r for r in out if r["iid"] is not None]
    unmatched = [r for r in out if r["iid"] is None]
    assert {r["iid"] for r in matched} == {0}
    assert all(r["payload"] is None for r in matched)
    assert len(unmatched) == 1 and unmatched[0]["payload"] == 7


def test_left_join_anti_recovery_plans_as_hash_join(spark):
    # the null-safe anti-join must extract its eqNullSafe conditions
    # into hash-join keys — never fall to a nested-loop plan
    from polars_trading_spark.plans import plan_string

    out = interval_join(
        _points(spark, PTS),
        _intervals(spark, IVS),
        point_on="ts",
        start_on="w_start",
        end_on="w_end",
        by="symbol",
        how="left",
    )
    plan = plan_string(out, "executed")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_validation_and_no_nested_loop_join(spark):
    from polars_trading_spark.plans import count_python_stages, plan_string

    with pytest.raises(ValueError):
        interval_join(
            _points(spark, PTS),
            _intervals(spark, IVS),
            point_on="ts",
            start_on="w_start",
            end_on="w_end",
            how="full",
        )
    with pytest.raises(ValueError, match="weekly"):
        interval_join(
            _points(spark, PTS),
            _intervals(spark, IVS),
            point_on="ts",
            start_on="w_start",
            end_on="w_end",
            bucket="1w",
        )
    out = interval_join(
        _points(spark, PTS),
        _intervals(spark, IVS),
        point_on="ts",
        start_on="w_start",
        end_on="w_end",
        by="symbol",
    )
    plan = plan_string(out, "executed")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert count_python_stages(out) == 0
