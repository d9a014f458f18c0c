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
    rows = {r.timestamp: r for r in sample_weights(events, trades).collect()}
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
    rows = average_uniqueness(events, trades).collect()
    assert all(r.avg_uniqueness == pytest.approx(1.0) for r in rows)
    assert all(r.n_path == 1 for r in rows)


def test_null_t1_clamped_to_last_event_ts(spark, trades):
    events = spark.createDataFrame(
        [("A", _ts(0), None), ("A", _ts(2), _ts(2))],
        "symbol string, timestamp timestamp, t1 timestamp",
    )
    rows = {r.timestamp: r for r in sample_weights(events, trades).collect()}
    # e0's span fills to the last event timestamp (t2): 3 path rows.
    assert rows[_ts(0)].n_path == 3


def test_backward_event_covers_nothing(spark, trades, events):
    # t1 < t0 spans no timestamp: it must neither count toward c_t nor
    # yield a weight row, so the outputs equal those without it.
    backward = spark.createDataFrame(
        [("A", _ts(2), _ts(0))], "symbol string, timestamp timestamp, t1 timestamp"
    )
    both = events.unionByName(backward)
    assert sorted(map(tuple, label_concurrency(both, trades).collect())) == sorted(
        map(tuple, label_concurrency(events, trades).collect())
    )
    assert sorted(map(tuple, sample_weights(both, trades).collect())) == sorted(
        map(tuple, sample_weights(events, trades).collect())
    )


def test_single_tick_span_has_null_attribution(spark, trades, events):
    single = spark.createDataFrame(
        [("A", _ts(1), _ts(1))], "symbol string, timestamp timestamp, t1 timestamp"
    )
    row = sample_weights(single, trades).collect()[0]
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


# ---------------------------------------------------------------------------
# AFML loop golden on a messy tape
# ---------------------------------------------------------------------------

# (symbol, minute, price): ties at A:1, A:5 and B:0 (the last trade by
# ingest order sets the timestamp's price), A's path rows 9 and 10 lie
# after every event span.
_MESSY_TRADES = [
    ("A", 0, 100.0), ("A", 1, 101.5), ("A", 1, 100.7), ("A", 2, 99.2),
    ("A", 4, 102.3), ("A", 5, 101.1), ("A", 5, 103.9), ("A", 7, 98.6),
    ("A", 9, 99.9), ("A", 10, 104.4),
    ("B", 0, 50.0), ("B", 0, 50.4), ("B", 0, 49.7), ("B", 3, 51.2),
    ("B", 6, 48.8), ("B", 8, 52.1),
]
# (symbol, t0 minute, t1 minute | None): a shared t0 with two horizons
# (A:1), t0 off the trade grid (A:3, A:6), single-tick spans (A:5, A:7,
# B:6), a span holding no path row (A:6), a null t1 (A:2, B:8) and a
# duplicated event (B:3).
_MESSY_EVENTS = [
    ("A", 0, 2), ("A", 1, 5), ("A", 1, 4), ("A", 2, None), ("A", 3, 4),
    ("A", 5, 5), ("A", 6, 6), ("A", 7, 7),
    ("B", 0, 3), ("B", 3, 8), ("B", 3, 8), ("B", 6, 6), ("B", 8, None),
]


def _afml_sample_weights(trades, events):
    """AFML ``mpNumCoEvents`` + ``mpSampleTW`` + return attribution as a
    pandas loop: {(symbol, t0): (avg_uniqueness, n_path, ret_attr)}.

    Concurrency counts every event (duplicates included) over the
    distinct trade timestamps of its symbol; attribution sums the log
    returns strictly after t0; a null t1 runs to the symbol's last
    event timestamp."""
    import numpy as np
    import pandas as pd

    tr = pd.DataFrame(trades, columns=["symbol", "timestamp", "price"])
    ev = pd.DataFrame(events, columns=["symbol", "timestamp", "t1"])
    out = {}
    for sym, t in tr.groupby("symbol", sort=False):
        close = t.groupby("timestamp")["price"].last().sort_index()
        ret = np.log(close).diff()
        e = ev[ev["symbol"] == sym]
        spans = list(zip(e["timestamp"], e["t1"].fillna(e["timestamp"].max())))
        num_co = pd.Series(0, index=close.index)
        for t_in, t_out in spans:
            num_co.loc[t_in:t_out] += 1
        for t_in in sorted({s[0] for s in spans}):
            inv, attr = [], []
            for t_out in (s[1] for s in spans if s[0] == t_in):
                inv.extend(1.0 / num_co.loc[t_in:t_out])
                seg = ret.loc[t_in:t_out]
                seg = seg[seg.index > t_in].dropna()
                attr.extend(seg / num_co.loc[seg.index])
            if inv:
                out[(sym, t_in)] = (
                    float(np.mean(inv)),
                    len(inv),
                    abs(float(np.sum(attr))) if attr else None,
                )
    return out


def _assert_matches_afml(got, want):
    assert got.keys() == want.keys()
    for key, (avg_u, n_path, ret_attr) in want.items():
        g_avg, g_n, g_ret = got[key]
        assert g_n == n_path, key
        assert 0.0 < g_avg <= 1.0, key
        assert g_avg == pytest.approx(avg_u, rel=1e-9, abs=0.0), key
        if ret_attr is None:
            assert g_ret is None, key
        else:
            assert g_ret == pytest.approx(ret_attr, rel=1e-9, abs=0.0), key


def test_sample_weights_match_afml_loop(spark):
    from polars_trading_spark._utils import SEQ_COL

    trades = [(s, _ts(m), p, 10, i) for i, (s, m, p) in enumerate(_MESSY_TRADES)]
    events = [(s, _ts(a), None if b is None else _ts(b)) for s, a, b in _MESSY_EVENTS]
    tr_df = spark.createDataFrame(
        trades, f"symbol string, timestamp timestamp, price double, size long, {SEQ_COL} long"
    )
    ev_df = spark.createDataFrame(events, "symbol string, timestamp timestamp, t1 timestamp")
    want = _afml_sample_weights([t[:3] for t in trades], events)
    got = {
        (r.symbol, r.timestamp): (r.avg_uniqueness, r.n_path, r.ret_attr)
        for r in sample_weights(ev_df, tr_df).collect()
    }
    _assert_matches_afml(got, want)
    # The shared t0 pools both horizons; the span off the trade grid
    # with no path row yields no output row.
    assert got[("A", _ts(1))][1] == 7
    assert ("A", _ts(6)) not in got

    # One series with no symbol column: symbol A's tape alone.
    want_a = {k: v for k, v in want.items() if k[0] == "A"}
    got_a = {
        ("A", r.timestamp): (r.avg_uniqueness, r.n_path, r.ret_attr)
        for r in sample_weights(
            ev_df.where("symbol = 'A'").drop("symbol"),
            tr_df.where("symbol = 'A'").drop("symbol"),
        ).collect()
    }
    assert "symbol" not in sample_weights(ev_df.drop("symbol"), tr_df.drop("symbol")).columns
    _assert_matches_afml(got_a, want_a)
