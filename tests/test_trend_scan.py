"""Golden tests for trend-scanning labels (operators/trend_scan.py)
against a direct numpy per-row forward OLS implementation."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from polars_trading_spark.operators.trend_scan import trend_scanning_labels

MIN_SPAN, MAX_SPAN = 4, 9


def _numpy_trend_scan(prices: np.ndarray):
    """Per-row argmax-|t| forward OLS — the textbook O(n*spans*len) loop."""
    n = len(prices)
    out = []
    for i in range(n):
        best = None
        for l in range(MIN_SPAN, MAX_SPAN + 1):
            if i + l > n:
                break
            y = prices[i : i + l]
            x = np.arange(l, dtype=float)
            xm, ym = x.mean(), y.mean()
            sxx = ((x - xm) ** 2).sum()
            slope = ((x - xm) * (y - ym)).sum() / sxx
            resid = y - (ym + slope * (x - xm))
            sse = (resid**2).sum()
            se2 = sse / (l - 2) / sxx
            if se2 <= 0:
                continue
            t = slope / np.sqrt(se2)
            key = (abs(t), -l)
            if best is None or key > best[0]:
                best = (key, l, t)
        out.append((best[1], best[2]) if best else (None, None))
    return out


@pytest.fixture(scope="module")
def series_pdf():
    rng = np.random.default_rng(11)
    rows = []
    for sym in ("A", "B"):
        # trending segments + noise so both labels appear
        steps = np.concatenate([rng.normal(0.3, 1.0, 40), rng.normal(-0.4, 1.0, 40)])
        prices = 100 + np.cumsum(steps)
        for i, p in enumerate(prices):
            rows.append(
                {
                    "symbol": sym,
                    "ts_event": pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i),
                    "price": float(p),
                }
            )
    return pd.DataFrame(rows)


def test_trend_scan_matches_numpy(spark, series_pdf):
    out = (
        trend_scanning_labels(
            spark.createDataFrame(series_pdf), min_span=MIN_SPAN, max_span=MAX_SPAN
        )
        .toPandas()
        .sort_values(["symbol", "ts_event"])
        .reset_index(drop=True)
    )
    for sym, grp in series_pdf.groupby("symbol"):
        grp = grp.sort_values("ts_event").reset_index(drop=True)
        expected = _numpy_trend_scan(grp["price"].to_numpy())
        got = out[out.symbol == sym].reset_index(drop=True)
        for i, (span, tval) in enumerate(expected):
            if span is None:
                assert pd.isna(got.loc[i, "span"])
                assert pd.isna(got.loc[i, "tval"])
            else:
                assert got.loc[i, "span"] == span, f"row {i}"
                assert got.loc[i, "tval"] == pytest.approx(tval, abs=2e-6), f"row {i}"
                assert got.loc[i, "label"] == np.sign(tval)
                # t1 is the winning span's end timestamp
                assert got.loc[i, "t1"] == grp.loc[i + span - 1, "ts_event"]


def test_trend_scan_labels_both_directions(spark, series_pdf):
    out = trend_scanning_labels(
        spark.createDataFrame(series_pdf), min_span=MIN_SPAN, max_span=MAX_SPAN
    ).toPandas()
    labels = set(out["label"].dropna().unique())
    assert 1.0 in labels and -1.0 in labels


def test_trend_scan_single_window_pass(spark, series_pdf):
    """The whole scan must be one window pass: no joins, one exchange."""
    plan = trend_scanning_labels(
        spark.createDataFrame(series_pdf), min_span=MIN_SPAN, max_span=MAX_SPAN
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Window") == 1


def test_trend_scan_validation(spark, series_pdf):
    sdf = spark.createDataFrame(series_pdf)
    with pytest.raises(ValueError):
        trend_scanning_labels(sdf, min_span=2)
    with pytest.raises(ValueError):
        trend_scanning_labels(sdf, min_span=5, max_span=4)


# ---------------------------------------------------------------------------
# bet sizing (operators/bet_sizing.py)
# ---------------------------------------------------------------------------

from polars_trading_spark.operators.bet_sizing import (
    average_active_bets,
    bet_size_from_tstat,
)


def test_bet_size_sigmoid_bounds(spark):
    pdf = pd.DataFrame({"t": [-50.0, -1.0, 0.0, 1.0, 50.0]})
    out = (
        spark.createDataFrame(pdf)
        .select(bet_size_from_tstat("t").alias("m"))
        .toPandas()["m"]
    )
    assert (out.abs() < 1).all()
    assert out.iloc[2] == 0.0
    assert out.iloc[3] == pytest.approx(1 / np.sqrt(2))
    assert out.iloc[0] < -0.999 and out.iloc[4] > 0.999
    # monotone in t
    assert out.is_monotonic_increasing


def test_average_active_bets_golden(spark):
    t0 = pd.Timestamp("2024-01-01")

    def ev(sym, start_min, end_min, m):
        return {
            "symbol": sym,
            "ts_event": t0 + pd.Timedelta(minutes=start_min),
            "t1": t0 + pd.Timedelta(minutes=end_min),
            "bet_size": m,
        }

    pdf = pd.DataFrame(
        [
            ev("A", 0, 10, 1.0),     # active at 0, 5, 10
            ev("A", 5, 20, -0.5),    # active at 5, 10, 20
            ev("A", 10, 12, 0.25),   # active at 10
            ev("A", 20, 30, 0.75),   # active at 20
            ev("B", 0, 100, 0.1),
        ]
    )
    out = (
        average_active_bets(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values(["symbol", "ts_event"])
        .reset_index(drop=True)
    )
    a = out[out.symbol == "A"].set_index("ts_event")
    assert a.loc[t0, "n_active"] == 1 and a.loc[t0, "avg_active_bet"] == 1.0
    t5 = t0 + pd.Timedelta(minutes=5)
    assert a.loc[t5, "n_active"] == 2
    assert a.loc[t5, "avg_active_bet"] == pytest.approx((1.0 - 0.5) / 2)
    t10 = t0 + pd.Timedelta(minutes=10)
    assert a.loc[t10, "n_active"] == 3
    assert a.loc[t10, "avg_active_bet"] == pytest.approx((1.0 - 0.5 + 0.25) / 3)
    t20 = t0 + pd.Timedelta(minutes=20)
    assert a.loc[t20, "n_active"] == 2
    assert a.loc[t20, "avg_active_bet"] == pytest.approx((-0.5 + 0.75) / 2)
    b = out[out.symbol == "B"]
    assert len(b) == 1 and b.iloc[0]["n_active"] == 1
