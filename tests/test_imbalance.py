"""Tests for imbalance bars (operators/imbalance.py): golden per-row
sequential reference vs the chunked scan, plus bar invariants."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from polars_trading_spark.config import Config
from polars_trading_spark.operators.imbalance import (
    _imbalance_scan,
    _tick_signs,
    imbalance_bars,
)


def _reference_scan(w, h):
    """Textbook per-row loop."""
    ids, theta, gid = [], 0.0, 0
    for x in w:
        theta += x
        ids.append(gid)
        if abs(theta) >= h:
            gid += 1
            theta = 0.0
    return np.array(ids)


def test_tick_signs_vector():
    p = np.array([10.0, 11.0, 11.0, 9.0, 9.0, 12.0])
    np.testing.assert_array_equal(_tick_signs(p), [0, 1, 1, -1, -1, 1])


def test_tick_signs_no_change():
    np.testing.assert_array_equal(_tick_signs(np.full(4, 5.0)), np.zeros(4))


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("h", [3.0, 10.0, 1e9])
def test_chunked_scan_matches_reference(seed, h):
    rng = np.random.default_rng(seed)
    w = rng.choice([-1.0, 0.0, 1.0], size=10_000, p=[0.45, 0.1, 0.45])
    np.testing.assert_array_equal(_imbalance_scan(w, h)[0], _reference_scan(w, h))


def test_chunk_boundary_state_carry():
    # a crossing exactly at / straddling the 4096 chunk boundary
    w = np.ones(5000)
    ids = _imbalance_scan(w, 4096.0)[0]
    np.testing.assert_array_equal(ids[:4096], 0)
    np.testing.assert_array_equal(ids[4096:], 1)


@pytest.fixture(scope="module")
def trades_pdf():
    rng = np.random.default_rng(5)
    rows = []
    for sym in ("A", "B"):
        price = 50.0
        t = pd.Timestamp("2024-03-01")
        for i in range(800):
            if i == 400:
                t = pd.Timestamp("2024-03-02")  # second day: state must reset
            t = t + pd.Timedelta(seconds=int(rng.integers(1, 30)))
            price = max(0.5, price + rng.choice([-0.25, 0.0, 0.25]))
            rows.append(
                {
                    "ts_event": t,
                    "price": price,
                    "size": int(rng.integers(100, 5000)),
                    "symbol": sym,
                }
            )
    return pd.DataFrame(rows)


@pytest.mark.parametrize(
    "mode,h,null_sizes",
    [
        pytest.param("tick", 5.0, False, id="tick-5.0"),
        pytest.param("volume", 20_000.0, False, id="volume-20000.0"),
        pytest.param("dollar", 800_000.0, False, id="dollar-800000.0"),
        # a null size weighs 0 in the flow; it must not stall the clock
        pytest.param("volume", 20_000.0, True, id="volume-20000.0-null_size"),
        pytest.param("dollar", 800_000.0, True, id="dollar-800000.0-null_size"),
    ],
)
def test_bars_match_pandas_golden(spark, trades_pdf, mode, h, null_sizes):
    if null_sizes:
        trades_pdf = trades_pdf.astype({"size": "Int64"})
        trades_pdf.loc[trades_pdf.index % 97 == 5, "size"] = pd.NA
    with Config(timestamp_column="ts_event"):
        out = (
            imbalance_bars(spark.createDataFrame(trades_pdf), threshold=h, mode=mode)
            .toPandas()
            .sort_values(["symbol", "ts_event_start"])
            .reset_index(drop=True)
        )
    expected_rows = []
    for (sym, day), grp in trades_pdf.groupby(
        ["symbol", trades_pdf.ts_event.dt.normalize()]
    ):
        grp = grp.sort_values("ts_event").reset_index(drop=True)
        b = _tick_signs(grp["price"].to_numpy())
        sizes = grp["size"].fillna(0).to_numpy(dtype=float)
        if mode == "tick":
            w = b
        elif mode == "volume":
            w = b * sizes
        else:
            w = b * sizes * grp["price"].to_numpy()
        grp["bar_id"] = _reference_scan(w, h)
        for _, bar in grp.groupby("bar_id"):
            expected_rows.append(
                {
                    "symbol": sym,
                    "ts_event_start": bar["ts_event"].min(),
                    "ts_event_end": bar["ts_event"].max(),
                    "open": bar["price"].iloc[0],
                    "high": bar["price"].max(),
                    "low": bar["price"].min(),
                    "close": bar["price"].iloc[-1],
                    "volume": bar["size"].sum(),
                    "n_trades": len(bar),
                }
            )
    expected = (
        pd.DataFrame(expected_rows)
        .sort_values(["symbol", "ts_event_start"])
        .reset_index(drop=True)
    )
    assert len(out) == len(expected)
    for col in ("symbol", "open", "high", "low", "close", "volume", "n_trades"):
        assert out[col].tolist() == expected[col].tolist(), col
    assert out["ts_event_start"].tolist() == expected["ts_event_start"].tolist()
    assert out["ts_event_end"].tolist() == expected["ts_event_end"].tolist()


def test_volume_conserved(spark, trades_pdf):
    with Config(timestamp_column="ts_event"):
        out = imbalance_bars(spark.createDataFrame(trades_pdf), threshold=4.0).toPandas()
    assert out["volume"].sum() == trades_pdf["size"].sum()
    assert (out["n_trades"] >= 1).all()


def test_validation(spark, trades_pdf):
    sdf = spark.createDataFrame(trades_pdf)
    with Config(timestamp_column="ts_event"):
        with pytest.raises(ValueError):
            imbalance_bars(sdf, threshold=0)
        with pytest.raises(ValueError):
            imbalance_bars(sdf, threshold=5, mode="entropy")


# ---------------------------------------------------------------------------
# run bars
# ---------------------------------------------------------------------------

from polars_trading_spark.operators.imbalance import _run_scan, run_bars


def _reference_run_scan(w, h):
    ids, pos, neg, gid = [], 0.0, 0.0, 0
    for x in w:
        if x > 0:
            pos += x
        elif x < 0:
            neg += -x
        ids.append(gid)
        if max(pos, neg) >= h:
            gid += 1
            pos = neg = 0.0
    return np.array(ids)


@pytest.mark.parametrize("seed", [0, 1])
@pytest.mark.parametrize("h", [3.0, 12.0, 1e9])
def test_run_scan_matches_reference(seed, h):
    rng = np.random.default_rng(seed)
    w = rng.choice([-1.0, 0.0, 1.0], size=9000, p=[0.45, 0.1, 0.45])
    np.testing.assert_array_equal(_run_scan(w, h)[0], _reference_run_scan(w, h))


def test_run_scan_chunk_boundary():
    w = np.ones(5000)
    ids = _run_scan(w, 4096.0)[0]
    np.testing.assert_array_equal(ids[:4096], 0)
    np.testing.assert_array_equal(ids[4096:], 1)


def test_run_bars_faster_clock_than_imbalance(spark, trades_pdf):
    """Runs fire at least as often as net imbalance at equal threshold."""
    with Config(timestamp_column="ts_event"):
        imb = imbalance_bars(spark.createDataFrame(trades_pdf), threshold=6.0).toPandas()
        run = run_bars(spark.createDataFrame(trades_pdf), threshold=6.0).toPandas()
    assert len(run) >= len(imb)
    assert run["volume"].sum() == trades_pdf["size"].sum()


def test_run_bars_golden(spark, trades_pdf):
    with Config(timestamp_column="ts_event"):
        out = (
            run_bars(spark.createDataFrame(trades_pdf), threshold=5.0, mode="volume")
            .toPandas()
            .sort_values(["symbol", "ts_event_start"])
            .reset_index(drop=True)
        )
    rows = []
    for (sym, day), grp in trades_pdf.groupby(
        ["symbol", trades_pdf.ts_event.dt.normalize()]
    ):
        grp = grp.sort_values("ts_event").reset_index(drop=True)
        b = _tick_signs(grp["price"].to_numpy())
        w = b * grp["size"].to_numpy(dtype=float)
        grp["bar_id"] = _reference_run_scan(w, 5.0)
        for _, bar in grp.groupby("bar_id"):
            rows.append((sym, bar["ts_event"].min(), bar["size"].sum(), len(bar)))
    exp = (
        pd.DataFrame(rows, columns=["symbol", "start", "volume", "n_trades"])
        .sort_values(["symbol", "start"])
        .reset_index(drop=True)
    )
    assert len(out) == len(exp)
    assert out["volume"].tolist() == exp["volume"].tolist()
    assert out["n_trades"].tolist() == exp["n_trades"].tolist()


# ---------------------------------------------------------------------------
# EWMA-adaptive imbalance bars
# ---------------------------------------------------------------------------

from polars_trading_spark.operators.imbalance import (
    _adaptive_scan,
    imbalance_bars_adaptive,
)


def _reference_adaptive(w, t0, a_t, a_w):
    """Direct sequential replica: per-row flow EWMA, per-bar E[T] EWMA."""
    ids, gid = [], 0
    e_t, ew, theta, bar_len = float(t0), 0.0, 0.0, 0
    first = True
    for x in w:
        ew = x if first else (1 - a_w) * ew + a_w * x
        first = False
        theta += x
        bar_len += 1
        ids.append(gid)
        if abs(theta) >= e_t * abs(ew):
            gid += 1
            e_t = (1 - a_t) * e_t + a_t * bar_len
            theta, bar_len = 0.0, 0
    return np.array(ids)


@pytest.mark.parametrize("seed", [0, 3])
def test_adaptive_scan_matches_reference(seed):
    rng = np.random.default_rng(seed)
    w = rng.choice([-1.0, 0.0, 1.0], size=4000, p=[0.42, 0.16, 0.42])
    ew = pd.Series(w).ewm(alpha=0.05, adjust=False).mean().to_numpy()
    got = _adaptive_scan(w, ew, 50, 0.1)
    np.testing.assert_array_equal(got, _reference_adaptive(w, 50, 0.1, 0.05))


@pytest.mark.parametrize("seed", [1, 7])
def test_adaptive_scan_chunk_boundaries(seed, monkeypatch):
    """Bars spanning chunk boundaries (theta carry + bar-length tracking
    across restarts) must match the sequential replica exactly."""
    import polars_trading_spark.operators.imbalance as mod

    monkeypatch.setattr(mod, "_CHUNK", 37)
    rng = np.random.default_rng(seed)
    # near-balanced flow + large E[T] seed -> long bars crossing chunks
    w = rng.choice([-1.0, 1.0], size=5000)
    ew = pd.Series(w).ewm(alpha=0.02, adjust=False).mean().to_numpy()
    got = mod._adaptive_scan(w, ew, 500, 0.3)
    np.testing.assert_array_equal(got, _reference_adaptive(w, 500, 0.3, 0.02))


def test_adaptive_bars_volume_conserved_and_adaptive(spark, trades_pdf):
    with Config(timestamp_column="ts_event"):
        out = imbalance_bars_adaptive(
            spark.createDataFrame(trades_pdf),
            init_expected_ticks=30,
            alpha_ticks=0.2,
            alpha_flow=0.05,
        ).toPandas()
    assert out["volume"].sum() == trades_pdf["size"].sum()
    # threshold adaptation must produce varying bar lengths
    assert out["n_trades"].nunique() > 1


def test_adaptive_validation(spark, trades_pdf):
    sdf = spark.createDataFrame(trades_pdf)
    with Config(timestamp_column="ts_event"):
        with pytest.raises(ValueError):
            imbalance_bars_adaptive(sdf, init_expected_ticks=0)
        with pytest.raises(ValueError):
            imbalance_bars_adaptive(sdf, alpha_flow=0.0)
