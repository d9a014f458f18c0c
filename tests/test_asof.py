from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from polars_trading_spark._utils import with_seq
from polars_trading_spark.operators.asof import asof_join


def _frames(spark):
    left = spark.createDataFrame(
        [("A", 1), ("A", 5), ("A", 10), ("B", 3)], "sym string, k long"
    )
    right = spark.createDataFrame(
        [("A", 0, 100.0), ("A", 5, 105.0), ("A", 7, 107.0), ("B", 4, 204.0)],
        "sym string, k long, px double",
    )
    return left, right


def test_backward_inclusive(spark):
    left, right = _frames(spark)
    out = asof_join(left, right, on="k", by="sym", strategy="backward")
    got = {(r["sym"], r["k"]): r["px"] for r in out.collect()}
    assert got == {("A", 1): 100.0, ("A", 5): 105.0, ("A", 10): 107.0, ("B", 3): None}


def test_forward_inclusive(spark):
    left, right = _frames(spark)
    out = asof_join(left, right, on="k", by="sym", strategy="forward")
    got = {(r["sym"], r["k"]): r["px"] for r in out.collect()}
    assert got == {("A", 1): 105.0, ("A", 5): 105.0, ("A", 10): None, ("B", 3): 204.0}


def test_no_by_single_series(spark):
    left = spark.createDataFrame([(2,), (9,)], "k long")
    right = spark.createDataFrame([(1, "x"), (8, "y")], "k long, tag string")
    out = asof_join(left, right, on="k", strategy="backward")
    got = {r["k"]: r["tag"] for r in out.collect()}
    assert got == {2: "x", 9: "y"}


def test_suffix_on_collision(spark):
    left = spark.createDataFrame([(1, 9.0)], "k long, px double")
    right = spark.createDataFrame([(0, 1.5)], "k long, px double")
    out = asof_join(left, right, on="k", strategy="backward")
    row = out.collect()[0]
    assert row["px"] == 9.0 and row["px_right"] == 1.5


def test_tolerance(spark):
    left = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 12),), (dt.datetime(2024, 1, 3, 12),)], "t timestamp"
    )
    right = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 11), 1.0)], "t timestamp, v double"
    )
    out = asof_join(
        left, right, on="t", strategy="backward", tolerance=F.expr("INTERVAL 1 DAY")
    )
    got = {r["t"]: r["v"] for r in out.collect()}
    assert got[dt.datetime(2024, 1, 1, 12)] == 1.0
    assert got[dt.datetime(2024, 1, 3, 12)] is None


def test_different_key_names_keeps_matched_key(spark):
    left = spark.createDataFrame([(5,)], "probe long")
    right = spark.createDataFrame([(3, "m")], "anchor long, tag string")
    out = asof_join(left, right, left_on="probe", right_on="anchor", strategy="backward")
    row = out.collect()[0]
    assert row["tag"] == "m"
    assert row["anchor"] == 3


def _tied_pairs(spark, n):
    """4 symbols x 50 right-side pairs tied on the key (values 1.0 then
    2.0 in frame order), spread over ``n`` partitions after ``with_seq``
    numbered them; each interior pair has a probe 1 after it and 1
    before it, so every probe has a match both ways."""
    right = with_seq(
        spark.createDataFrame(
            [(s, 10 * i, v) for s in "ABCD" for i in range(50) for v in (1.0, 2.0)],
            "sym string, k long, v double",
        )
    ).repartition(n)
    left = spark.createDataFrame(
        [(s, 10 * i + d) for s in "ABCD" for i in range(1, 49) for d in (1, -1)],
        "sym string, k long",
    ).repartition(n)
    return left, right


@pytest.mark.parametrize(
    "strategy,after,before",
    [
        # backward: the last tied row (Polars); forward: the first;
        # nearest: the closer of those two candidates
        ("backward", 2.0, 2.0),
        ("forward", 1.0, 1.0),
        ("nearest", 2.0, 1.0),
    ],
)
def test_tied_right_rows_resolve_by_frame_order(spark, strategy, after, before):
    # Without a tie order the pick depended on partitioning: 1 partition
    # took the second row, 3 and 8 took the first for about half the
    # probes.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in (1, 3, 8):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            left, right = _tied_pairs(spark, n)
            out = asof_join(left, right, on="k", by="sym", strategy=strategy)
            assert sorted(out.columns) == ["k", "k_right", "sym", "v"]
            got = {(r["k"] % 10, r["v"]) for r in out.collect()}
            assert got == {(1, after), (9, before)}, n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


class TestAsofNearest:
    def _frames(self, spark):
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        left = spark.createDataFrame(
            [
                ("A", base + dt.timedelta(seconds=s), i)
                for i, s in enumerate([5, 10, 14, 100])
            ]
            + [("B", base + dt.timedelta(seconds=7), 99)],
            "symbol string, ts timestamp, lid long",
        )
        right = spark.createDataFrame(
            [
                ("A", base + dt.timedelta(seconds=s), v)
                for s, v in [(0, 1.0), (12, 2.0), (16, 3.0)]
            ]
            + [("B", base + dt.timedelta(seconds=300), 9.0)],
            "symbol string, ts timestamp, val double",
        )
        return left, right

    def test_nearest_picks_closer_side_and_breaks_ties_backward(self, spark):
        import datetime as dt

        from polars_trading_spark.operators.asof import asof_join

        left, right = self._frames(spark)
        out = {
            r["lid"]: r
            for r in asof_join(
                left, right, on="ts", by="symbol", strategy="nearest"
            ).collect()
        }
        base = dt.datetime(2024, 1, 1)
        # lid 0 @5s: candidates 0s (d=5) vs 12s (d=7) -> backward 0s
        assert out[0]["val"] == 1.0
        # lid 1 @10s: 0s (d=10) vs 12s (d=2) -> forward 12s
        assert out[1]["val"] == 2.0
        assert out[1]["ts_right"] == base + dt.timedelta(seconds=12)
        # lid 2 @14s: 12s (d=2) vs 16s (d=2) -> TIE -> backward 12s
        assert out[2]["val"] == 2.0
        # lid 3 @100s: only backward side exists beyond 16s -> 16s
        assert out[3]["val"] == 3.0
        # B @7s: only forward candidate (300s)
        assert out[99]["val"] == 9.0

    def test_nearest_tolerance_nulls_far_matches(self, spark):
        from pyspark.sql import functions as F

        from polars_trading_spark.operators.asof import asof_join

        left, right = self._frames(spark)
        out = {
            r["lid"]: r
            for r in asof_join(
                left,
                right,
                on="ts",
                by="symbol",
                strategy="nearest",
                tolerance=F.expr("INTERVAL 10 SECONDS"),
            ).collect()
        }
        assert out[0]["val"] == 1.0  # 5s away, inside tolerance
        assert out[3]["val"] is None and out[3]["ts_right"] is None  # 84s away
        assert out[99]["val"] is None  # 293s away

    def test_nearest_keeps_suffix_named_user_columns_and_no_helpers(self, spark):
        # Regression: the output projection used to exclude columns by
        # the *__b/*__f suffix, silently dropping user columns with
        # those names and leaking the __mk_b/__mk_f helpers.
        import datetime as dt

        from polars_trading_spark.operators.asof import asof_join

        base = dt.datetime(2024, 1, 1)
        left = spark.createDataFrame(
            [("A", base, 5, 7)],
            "symbol string, ts timestamp, feat__b long, feat__f long",
        )
        right = spark.createDataFrame(
            [("A", base, 9.0)], "symbol string, ts timestamp, val double"
        )
        out = asof_join(left, right, on="ts", by="symbol", strategy="nearest")
        assert set(out.columns) == {"symbol", "ts", "feat__b", "feat__f", "ts_right", "val"}
        r = out.collect()[0]
        assert (r["feat__b"], r["feat__f"], r["val"]) == (5, 7, 9.0)

    def test_nearest_plan_single_exchange(self, spark):
        from polars_trading_spark.operators.asof import asof_join
        from polars_trading_spark.plans import (
            count_exchanges,
            count_python_stages,
            has_unbounded_following_frame,
        )

        left, right = self._frames(spark)
        out = asof_join(left, right, on="ts", by="symbol", strategy="nearest")
        assert count_python_stages(out) == 0
        # both directional scans ride the same symbol exchange (the
        # union adds its own round-robin-free scans); no O(n^2) frames
        assert not has_unbounded_following_frame(out)
        assert count_exchanges(out) <= 2
