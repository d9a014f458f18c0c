"""AFML ch.4 sample-weight goldens: hand-computed concurrency /
uniqueness / attribution on tiny frames, plus decay endpoints."""

from __future__ import annotations

import datetime as dt
import math

import pytest

from polars_trading_spark.operators.sample_weights import (
    average_uniqueness,
    label_concurrency,
    sample_weights,
    time_decay,
)

T0 = dt.datetime(2024, 1, 1, 0, 0)


def _ts(minutes: int) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minutes)


@pytest.fixture()
def trades(spark):
    # One symbol, 1-minute grid, strictly increasing prices so log
    # returns are positive and easy to write down.
    rows = [("A", _ts(i), 100.0 * math.exp(0.01 * i), 10) for i in range(3)]
    return spark.createDataFrame(
        rows, "symbol string, timestamp timestamp, price double, size long"
    )


@pytest.fixture()
def events(spark):
    # e0 spans [t0, t1], e1 spans [t1, t2]: t1 is covered twice.
    rows = [("A", _ts(0), _ts(1)), ("A", _ts(1), _ts(2))]
    return spark.createDataFrame(rows, "symbol string, timestamp timestamp, t1 timestamp")


def test_label_concurrency_golden(trades, events):
    out = {
        r.timestamp: r.concurrency
        for r in label_concurrency(events, trades).collect()
    }
    assert out == {_ts(0): 1, _ts(1): 2, _ts(2): 1}


def test_sample_weights_golden(trades, events):
    rows = {r.timestamp: r for r in sample_weights(events, trades, bucket="1h").collect()}
    # e0: spans t0 (c=1) and t1 (c=2) -> avg uniqueness (1 + 1/2)/2.
    assert rows[_ts(0)].avg_uniqueness == pytest.approx(0.75)
    assert rows[_ts(0)].n_path == 2
    # attribution: only t1 is strictly after t0; r(t1)=0.01, c=2.
    assert rows[_ts(0)].ret_attr == pytest.approx(0.005)
    # e1: spans t1 (c=2) and t2 (c=1); attribution r(t2)=0.01 at c=1.
    assert rows[_ts(1)].avg_uniqueness == pytest.approx(0.75)
    assert rows[_ts(1)].ret_attr == pytest.approx(0.01)


def test_non_overlapping_events_are_fully_unique(spark, trades):
    events = spark.createDataFrame(
        [("A", _ts(0), _ts(0)), ("A", _ts(2), _ts(2))],
        "symbol string, timestamp timestamp, t1 timestamp",
    )
    rows = average_uniqueness(events, trades, bucket="1h").collect()
    assert all(r.avg_uniqueness == pytest.approx(1.0) for r in rows)
    assert all(r.n_path == 1 for r in rows)


def test_null_t1_clamped_to_last_event_ts(spark, trades):
    events = spark.createDataFrame(
        [("A", _ts(0), None), ("A", _ts(2), _ts(2))],
        "symbol string, timestamp timestamp, t1 timestamp",
    )
    rows = {r.timestamp: r for r in sample_weights(events, trades, bucket="1h").collect()}
    # e0's span fills to the last event timestamp (t2): 3 path rows.
    assert rows[_ts(0)].n_path == 3


def test_single_tick_span_has_null_attribution(spark, trades, events):
    single = spark.createDataFrame(
        [("A", _ts(1), _ts(1))], "symbol string, timestamp timestamp, t1 timestamp"
    )
    row = sample_weights(single, trades, bucket="1h").collect()[0]
    assert row.ret_attr is None and row.n_path == 1


def test_time_decay_endpoints(spark):
    # Equal weights, three samples: factors are 0.5 + 0.5*(k/3).
    w = spark.createDataFrame(
        [("A", _ts(i), 1.0) for i in range(3)],
        "symbol string, timestamp timestamp, avg_uniqueness double",
    )
    rows = sorted(time_decay(w, last_weight=0.5).collect(), key=lambda r: r.timestamp)
    got = [r.decayed_weight for r in rows]
    exp = [0.5 + 0.5 * k / 3 for k in (1, 2, 3)]
    assert got == pytest.approx(exp)
    # Newest sample always keeps its full weight.
    assert got[-1] == pytest.approx(1.0)


def test_time_decay_negative_truncates_oldest(spark):
    w = spark.createDataFrame(
        [("A", _ts(i), 1.0) for i in range(4)],
        "symbol string, timestamp timestamp, avg_uniqueness double",
    )
    rows = sorted(time_decay(w, last_weight=-0.5).collect(), key=lambda r: r.timestamp)
    got = [r.decayed_weight for r in rows]
    # AFML convention: the oldest |last_weight| fraction of cumulative
    # information is zeroed; weights stay monotone non-decreasing.
    assert got[0] == 0.0
    assert got == sorted(got)
    assert got[-1] == pytest.approx(1.0)
