"""daily_vol / vertical barrier goldens (ported from the reference's
tests/labels/test_dynamic_labels.py), triple-barrier invariants, and
triple-barrier labels against an AFML event loop on tied timestamps."""

from __future__ import annotations

import datetime as dt

import pytest

from polars_trading_spark import Config
from polars_trading_spark._utils import with_seq
from polars_trading_spark.operators.dynamic_labels import (
    daily_vol,
    get_triple_barrier_label,
    get_vertical_barrier_by_timedelta,
)

TS10 = [
    dt.datetime(2024, 1, 1, 0),
    dt.datetime(2024, 1, 1, 3),
    dt.datetime(2024, 1, 1, 6),
    dt.datetime(2024, 1, 1, 9),
    dt.datetime(2024, 1, 1, 15),
    dt.datetime(2024, 1, 1, 20),
    dt.datetime(2024, 1, 2, 1),
    dt.datetime(2024, 1, 3, 5),
    dt.datetime(2024, 1, 3, 7),
    dt.datetime(2024, 1, 3, 9),
]


@pytest.fixture
def ten_rows(spark):
    return spark.createDataFrame(
        [(t, float(i + 1)) for i, t in enumerate(TS10)], "ts_event timestamp, price double"
    )


def test_daily_vol_weekend_returns_golden(spark, ten_rows):
    # Reference golden: tests/labels/test_dynamic_labels.py:65-107 (span=3).
    with Config(timestamp_column="ts_event"):
        out = daily_vol(ten_rows, span=3)
    got = {r["ts_event"]: r["daily_return_volatility"] for r in out.collect()}
    for t in TS10[:6]:
        assert got[t] is None
    assert got[TS10[6]] == 0.0
    assert got[TS10[7]] == pytest.approx(4.141625, abs=1e-6)
    assert got[TS10[8]] == pytest.approx(2.668519, abs=1e-6)
    assert got[TS10[9]] == pytest.approx(1.792192, abs=1e-6)


@pytest.mark.parametrize(
    "offset,expected_tail",
    [
        ("2h", [TS10[7], TS10[8], TS10[9], None]),  # :109-151 golden
        ("3h", [TS10[7], TS10[9], None, None]),     # :153-196 golden (skip rows)
    ],
)
def test_vertical_barrier_goldens(spark, ten_rows, offset, expected_tail):
    with Config(timestamp_column="ts_event"):
        out = get_vertical_barrier_by_timedelta(ten_rows, offset)
    got = {r["ts_event"]: r["vertical_barrier"] for r in out.collect()}
    # Head: each barrier is the next observation (gaps > offset).
    for i in range(6):
        assert got[TS10[i]] == TS10[i + 1]
    assert [got[t] for t in TS10[6:]] == expected_tail


def test_vertical_barrier_timedelta_object(spark, ten_rows):
    with Config(timestamp_column="ts_event"):
        a = get_vertical_barrier_by_timedelta(ten_rows, "2h").collect()
        b = get_vertical_barrier_by_timedelta(ten_rows, dt.timedelta(hours=2)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_vertical_barrier_replaces_existing_barrier(spark, ten_rows):
    # Re-barriering a frame that already carries ``vertical_barrier``
    # (e.g. at another horizon) returns the new barrier under that name.
    with Config(timestamp_column="ts_event"):
        two = get_vertical_barrier_by_timedelta(ten_rows, "2h", keep_cols=["price"])
        again = get_vertical_barrier_by_timedelta(two, "3h").collect()
        fresh = get_vertical_barrier_by_timedelta(ten_rows, "3h").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, fresh))


def test_vertical_barrier_multi_symbol(spark):
    rows = [(t, float(i + 1), s) for s in ("A", "B") for i, t in enumerate(TS10)]
    df = spark.createDataFrame(rows, "ts_event timestamp, price double, symbol string")
    with Config(timestamp_column="ts_event"):
        out = get_vertical_barrier_by_timedelta(df, "2h")
    assert out.count() == 20
    got = {(r["symbol"], r["ts_event"]): r["vertical_barrier"] for r in out.collect()}
    assert got[("A", TS10[0])] == TS10[1]
    assert got[("B", TS10[9])] is None


def test_triple_barrier_invariants(spark):
    # Synthetic two-symbol walk; checks structural invariants.
    rows = []
    base = dt.datetime(2024, 1, 1)
    price = {"A": 100.0, "B": 50.0}
    for i in range(200):
        for s in ("A", "B"):
            price[s] *= 1.0 + (0.003 if (i * 7 + ord(s)) % 5 < 2 else -0.002)
            rows.append((base + dt.timedelta(hours=i), price[s], 10, s))
    df = spark.createDataFrame(rows, "ts_event timestamp, price double, size long, symbol string")
    with Config(timestamp_column="ts_event"):
        out = get_triple_barrier_label(df, span=10, barrier_offset="6h").collect()
    assert len(out) > 0
    for r in out:
        assert r["label"] in (1, 0, -1)
        assert r["touch_timestamp"] >= r["timestamp"]
        assert r["return"] is not None
        if r["label"] == 1:
            assert r["return"] > 0
        if r["label"] == -1:
            assert r["return"] < 0


def test_native_ewm_unbounded_length_matches_pandas(spark):
    # 40k rows at span=10: the old r^t closed form overflows float64
    # around t ~ 3.5k; the segmented form must stay finite and agree
    # with pandas to float precision over the whole series.
    import math

    from polars_trading_spark.operators.ewm import ewm_std

    n, span = 40_000, 10
    rows = [("A", i, math.sin(i * 0.37) * 10 + (i % 7)) for i in range(n)]
    df = spark.createDataFrame(rows, "symbol string, t long, v double")
    nat = {
        r["t"]: r["ewm_std"]
        for r in ewm_std(df, "v", span, by=["symbol"], order_by=["t"], method="native").collect()
    }
    pan = {
        r["t"]: r["ewm_std"]
        for r in ewm_std(df, "v", span, by=["symbol"], order_by=["t"], method="pandas").collect()
    }
    assert nat[0] is None and pan[0] is None
    for t in (1, 100, 3_999, 4_000, 20_000, n - 1):  # spans chunk boundaries
        assert nat[t] == pytest.approx(pan[t], rel=1e-9), t
    assert all(v is None or math.isfinite(v) for v in nat.values())


TIED_SCHEMA = "ts_event timestamp, price double, size long, symbol string, side double"


def _tied_tape():
    """225 trades of one symbol over 150 hourly slots; every even slot
    holds two trades at the same timestamp with distinct prices, so the
    24h lookback price depends on which tied trade the as-of takes (the
    last in tape order, as in Polars).  Tied trades' volatility targets
    differ too (successive EWM steps), and so do their bet sides."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = dt.datetime(2024, 1, 1)
    price, rows = 100.0, []
    for slot in range(150):
        for _ in range(2 if slot % 2 == 0 else 1):
            price *= float(np.exp(rng.normal(0.0, 0.01)))
            side = 1.0 if len(rows) % 3 else -1.0
            rows.append((base + dt.timedelta(hours=slot), price, 10, "A", side))
    return rows


def _pandas_daily_vol(ts, px, span):
    """Daily-vol target of one symbol's trades in tape order: the
    return against the last trade at-or-before ts - 24h, then the
    bias-corrected EWM std (0.0 for the first return, NaN before)."""
    import numpy as np
    import pandas as pd

    lb = np.searchsorted(ts, ts - np.timedelta64(24, "h"), side="right") - 1
    ret = pd.Series(np.where(lb >= 0, px / px[np.maximum(lb, 0)] - 1, np.nan))
    valid = ret.notna()
    trgt = pd.Series(np.nan, index=ret.index)
    trgt[valid] = ret[valid].ewm(span=span).std().fillna(0.0)
    return trgt


def test_daily_vol_tied_timestamps_match_pandas(spark):
    # The lookback price of a tied pair is the later trade in tape order
    # at any partitioning (it depended on partitioning before the as-of
    # had a tie order).
    import pandas as pd

    rows = _tied_tape()
    pdf = pd.DataFrame(rows, columns=["ts", "price", "size", "symbol", "side"])
    trgt = _pandas_daily_vol(pdf["ts"].to_numpy(), pdf["price"].to_numpy(), 10)
    want = sorted(
        (t.to_pydatetime(), None if pd.isna(v) else round(v, 12))
        for t, v in zip(pdf["ts"], trgt)
    )
    base = with_seq(spark.createDataFrame(rows, TIED_SCHEMA))
    for n in (1, 3, 8):
        with Config(timestamp_column="ts_event"):
            out = daily_vol(base.repartition(n), span=10).collect()
        got = sorted(
            (
                r["ts_event"],
                None
                if r["daily_return_volatility"] is None
                else round(r["daily_return_volatility"], 12),
            )
            for r in out
        )
        assert got == want, n


def _afml_triple_barrier(rows, *, span, offset, pt, sl, sided):
    """AFML pg. 45 event loop on one symbol, rows in tape order: each
    event (a trade with a defined daily-vol target) scans its own path
    with its own target, entry price and side."""
    import numpy as np
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["ts", "price", "size", "symbol", "side"])
    ts, px = pdf["ts"].to_numpy(), pdf["price"].to_numpy()
    trgt = _pandas_daily_vol(ts, px, span)
    valid = trgt.notna()
    vb = np.searchsorted(ts, ts + np.timedelta64(offset), side="left")
    last_ts = ts[valid.to_numpy()].max()
    out = []
    for i in np.flatnonzero(valid.to_numpy()):
        t0, entry = ts[i], px[i]
        side = pdf["side"].iat[i] if sided else 1.0
        t1 = ts[vb[i]] if vb[i] < len(ts) else last_ts
        path = (ts >= t0) & (ts <= t1)
        r = (px[path] / entry - 1) * side
        hit_pt = ts[path][r > pt * trgt[i]]
        hit_sl = ts[path][r < -sl * trgt[i]]
        pt_time = hit_pt.min() if len(hit_pt) else None
        sl_time = hit_sl.min() if len(hit_sl) else None
        touch = min(t for t in (pt_time, sl_time, t1) if t is not None)
        realized = (px[np.flatnonzero(ts == touch)[0]] / entry - 1) * side
        if sided:
            label = int(realized > 0)
        else:
            label = 1 if pt_time == touch else -1 if sl_time == touch else 0
        out.append(
            (
                pd.Timestamp(t0).to_pydatetime(),
                pd.Timestamp(touch).to_pydatetime(),
                round(realized, 9),
                label,
            )
        )
    return sorted(out)


@pytest.mark.parametrize("label_style", ["three_class", "meta"])
def test_triple_barrier_tied_timestamps_match_afml_loop(spark, label_style):
    # One event row per trade: tied timestamps must not fan an event out
    # to its tied neighbours' targets (189 events from 225 trades).
    rows = _tied_tape()
    df = spark.createDataFrame(rows, TIED_SCHEMA)
    sided = label_style == "meta"
    with Config(timestamp_column="ts_event"):
        out = get_triple_barrier_label(
            df,
            span=10,
            barrier_offset="12h",
            profit_take=0.5,
            stop_loss=0.5,
            label_style=label_style,
            side_col="side" if sided else None,
        ).collect()
    got = sorted(
        (r["timestamp"], r["touch_timestamp"], round(r["return"], 9), r["label"]) for r in out
    )
    want = _afml_triple_barrier(
        rows, span=10, offset=dt.timedelta(hours=12), pt=0.5, sl=0.5, sided=sided
    )
    assert len(want) == 189
    assert got == want
