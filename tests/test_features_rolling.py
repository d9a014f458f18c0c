"""Golden tests for the rolling bar-frame features: volatility estimators
(operators/volatility.py) and microstructure features
(operators/microstructure.py), validated against independent pandas/numpy
computations on a small deterministic OHLCV frame."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from polars_trading_spark.operators.microstructure import microstructure_features
from polars_trading_spark.operators.volatility import bar_volatility

WINDOW = 5


@pytest.fixture(scope="module")
def bar_pdf() -> pd.DataFrame:
    rng = np.random.default_rng(7)
    rows = []
    for sym in ("AAPL", "MSFT"):
        price = 100.0
        for i in range(40):
            o = price * math.exp(rng.normal(0, 0.01))
            c = o * math.exp(rng.normal(0, 0.01))
            hi = max(o, c) * math.exp(abs(rng.normal(0, 0.005)))
            lo = min(o, c) * math.exp(-abs(rng.normal(0, 0.005)))
            vol = int(rng.integers(1_000, 50_000))
            rows.append(
                {
                    "symbol": sym,
                    "ts_event_start": pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=15 * i),
                    "open": o,
                    "high": hi,
                    "low": lo,
                    "close": c,
                    "volume": vol,
                    "vwap": (hi + lo + c) / 3,
                }
            )
            price = c
    return pd.DataFrame(rows)


def _spark_result(spark, bar_pdf, fn, **kw):
    sdf = spark.createDataFrame(bar_pdf)
    out = fn(sdf, window=WINDOW, **kw).toPandas()
    return out.sort_values(["symbol", "ts_event_start"]).reset_index(drop=True)


def test_close_close_matches_pandas_rolling_std(spark, bar_pdf):
    out = _spark_result(spark, bar_pdf, bar_volatility)
    for sym, grp in bar_pdf.groupby("symbol"):
        grp = grp.sort_values("ts_event_start")
        r = np.log(grp["close"] / grp["close"].shift(1))
        expected = r.rolling(WINDOW, min_periods=WINDOW).std()
        got = out[out.symbol == sym]["vol_cc"].to_numpy()
        np.testing.assert_allclose(got, expected.to_numpy(), rtol=1e-9, equal_nan=True)


def test_parkinson_golden(spark, bar_pdf):
    out = _spark_result(spark, bar_pdf, bar_volatility)
    for sym, grp in bar_pdf.groupby("symbol"):
        grp = grp.sort_values("ts_event_start")
        hl2 = np.log(grp["high"] / grp["low"]) ** 2
        expected = np.sqrt(hl2.rolling(WINDOW, min_periods=WINDOW).mean() / (4 * math.log(2)))
        got = out[out.symbol == sym]["vol_parkinson"].to_numpy()
        np.testing.assert_allclose(got, expected.to_numpy(), rtol=1e-9, equal_nan=True)


def test_yang_zhang_components(spark, bar_pdf):
    out = _spark_result(spark, bar_pdf, bar_volatility)
    k = 0.34 / (1.34 + (WINDOW + 1) / (WINDOW - 1))
    for sym, grp in bar_pdf.groupby("symbol"):
        grp = grp.sort_values("ts_event_start")
        r_on = np.log(grp["open"] / grp["close"].shift(1))
        r_co = np.log(grp["close"] / grp["open"])
        rs = np.log(grp["high"] / grp["close"]) * np.log(grp["high"] / grp["open"]) + np.log(
            grp["low"] / grp["close"]
        ) * np.log(grp["low"] / grp["open"])
        var = (
            r_on.rolling(WINDOW, min_periods=WINDOW).var()
            + k * r_co.rolling(WINDOW, min_periods=WINDOW).var()
            + (1 - k) * rs.rolling(WINDOW, min_periods=WINDOW).mean()
        )
        expected = np.sqrt(np.maximum(var, 0.0))
        got = out[out.symbol == sym]["vol_yz"].to_numpy()
        np.testing.assert_allclose(got, expected.to_numpy(), rtol=1e-9, equal_nan=True)


def test_estimators_agree_in_magnitude(spark, bar_pdf):
    """All five estimators target the same sigma; on well-behaved synthetic
    bars they should land within a small factor of each other."""
    out = _spark_result(spark, bar_pdf, bar_volatility).dropna()
    med = out[["vol_cc", "vol_parkinson", "vol_gk", "vol_rs", "vol_yz"]].median()
    assert (med > 0).all()
    assert med.max() / med.min() < 5


def test_roll_measure_golden(spark, bar_pdf):
    out = _spark_result(spark, bar_pdf, microstructure_features)
    for sym, grp in bar_pdf.groupby("symbol"):
        grp = grp.sort_values("ts_event_start")
        dp = grp["close"].diff()
        pairs = pd.DataFrame({"x": dp.shift(1), "y": dp}).dropna()
        expected = []
        n = len(grp)
        vals = pd.DataFrame({"x": dp.shift(1), "y": dp})
        for i in range(n):
            w = vals.iloc[max(0, i - WINDOW + 1) : i + 1].dropna()
            if len(w) == WINDOW:
                cov = np.cov(w["x"], w["y"], ddof=1)[0, 1]
                expected.append(2 * math.sqrt(max(-cov, 0.0)))
            else:
                expected.append(np.nan)
        got = out[out.symbol == sym]["roll_measure"].to_numpy()
        np.testing.assert_allclose(got, np.array(expected), rtol=1e-8, equal_nan=True)


def test_kyle_lambda_golden(spark, bar_pdf):
    out = _spark_result(spark, bar_pdf, microstructure_features)
    for sym, grp in bar_pdf.groupby("symbol"):
        grp = grp.sort_values("ts_event_start")
        dp = grp["close"].diff()
        tick = np.sign(dp).replace(0.0, np.nan).ffill()
        sv = (tick * grp["volume"]).where(dp.notna() & tick.notna())
        y = dp.where(sv.notna())
        expected = []
        vals = pd.DataFrame({"x": sv, "y": y})
        for i in range(len(grp)):
            w = vals.iloc[max(0, i - WINDOW + 1) : i + 1].dropna()
            if len(w) == WINDOW:
                slope = np.polyfit(w["x"], w["y"], 1)[0]
                expected.append(slope)
            else:
                expected.append(np.nan)
        got = out[out.symbol == sym]["kyle_lambda"].to_numpy()
        np.testing.assert_allclose(got, np.array(expected), rtol=1e-6, equal_nan=True)


def test_hasbrouck_lambda_golden(spark, bar_pdf):
    out = _spark_result(spark, bar_pdf, microstructure_features)
    for sym, grp in bar_pdf.groupby("symbol"):
        grp = grp.sort_values("ts_event_start")
        dp = grp["close"].diff()
        ret = np.log(grp["close"] / grp["close"].shift(1))
        tick = np.sign(dp).replace(0.0, np.nan).ffill()
        dv = grp["volume"] * grp["vwap"]
        hx = (tick * np.sqrt(dv)).where(ret.notna() & tick.notna())
        hy = ret.where(hx.notna())
        expected = []
        vals = pd.DataFrame({"x": hx, "y": hy})
        for i in range(len(grp)):
            w = vals.iloc[max(0, i - WINDOW + 1) : i + 1].dropna()
            if len(w) == WINDOW:
                expected.append(np.polyfit(w["x"], w["y"], 1)[0])
            else:
                expected.append(np.nan)
        got = out[out.symbol == sym]["hasbrouck_lambda"].to_numpy()
        np.testing.assert_allclose(got, np.array(expected), rtol=1e-6, equal_nan=True)


def test_amihud_positive_and_gated(spark, bar_pdf):
    out = _spark_result(spark, bar_pdf, microstructure_features)
    for sym, grp in out.groupby("symbol"):
        vals = grp["amihud"]
        # first WINDOW rows per symbol cannot have a full return window
        assert vals.iloc[:WINDOW].isna().all()
        assert (vals.dropna() > 0).all()


def test_window_validation(spark, bar_pdf):
    sdf = spark.createDataFrame(bar_pdf)
    with pytest.raises(ValueError):
        bar_volatility(sdf, window=1)
    with pytest.raises(ValueError):
        microstructure_features(sdf, window=0)


# ---------------------------------------------------------------------------
# VPIN (operators/microstructure.py::vpin)
# ---------------------------------------------------------------------------


def _vpin_golden(trades: pd.DataFrame, bucket: int, window: int) -> pd.DataFrame:
    """Per-(symbol, day) equal-volume bucketing with pro-rata splits, tick
    rule classification, rolling mean of |buy - sell| / V."""
    out = []
    for (sym, day), grp in trades.groupby(
        ["symbol", trades.ts_event.dt.normalize()], sort=True
    ):
        grp = grp.sort_values("ts_event").reset_index(drop=True)
        dp = grp["price"].diff()
        sign = np.sign(dp).replace(0.0, np.nan).ffill().fillna(0.0)
        rows = []
        cs = 0
        for i in range(len(grp)):
            prev, cs = cs, cs + int(grp.loc[i, "size"])
            b0, b1 = prev // bucket, (cs - 1) // bucket
            for bar in range(b0, b1 + 1):
                piece = min(cs, (bar + 1) * bucket) - max(prev, bar * bucket)
                rows.append((bar, grp.loc[i, "ts_event"], sign.iloc[i], piece))
        pieces = pd.DataFrame(rows, columns=["bar", "ts", "b", "piece"])
        for bar, bk in pieces.groupby("bar"):
            buy = bk[bk.b == 1.0]["piece"].sum()
            sell = bk[bk.b == -1.0]["piece"].sum()
            vol = bk["piece"].sum()
            out.append(
                {
                    "symbol": sym,
                    "day": day,
                    "bar": bar,
                    "ts_event_end": bk["ts"].max(),
                    "bucket_volume": vol,
                    "imbalance": abs(buy - sell) / vol,
                }
            )
    res = pd.DataFrame(out).sort_values(["symbol", "day", "bar"]).reset_index(drop=True)
    res["vpin_val"] = (
        res.groupby("symbol")["imbalance"]
        .transform(lambda s: s.rolling(window, min_periods=window).mean())
    )
    return res


def test_vpin_matches_golden(spark):
    from polars_trading_spark.config import Config
    from polars_trading_spark.operators.microstructure import vpin

    rng = np.random.default_rng(13)
    rows = []
    for sym in ("A", "B"):
        price = 30.0
        for day in (1, 2):
            t = pd.Timestamp(f"2024-04-0{day}")
            for _ in range(300):
                t = t + pd.Timedelta(seconds=int(rng.integers(5, 60)))
                price = max(1.0, price + rng.choice([-0.5, 0.0, 0.5]))
                rows.append(
                    {"ts_event": t, "price": price, "size": int(rng.integers(500, 8000)), "symbol": sym}
                )
    pdf = pd.DataFrame(rows)
    bucket, window = 50_000, 4
    with Config(timestamp_column="ts_event"):
        got = (
            vpin(spark.createDataFrame(pdf), bucket_volume=bucket, window=window)
            .toPandas()
            .sort_values(["symbol", "ts_event_end"])
            .reset_index(drop=True)
        )
    exp = _vpin_golden(pdf, bucket, window)
    assert len(got) == len(exp)
    assert got["bucket_volume"].tolist() == exp["bucket_volume"].tolist()
    np.testing.assert_allclose(got["imbalance"], exp["imbalance"], rtol=1e-9)
    np.testing.assert_allclose(got["vpin_val"], exp["vpin_val"], rtol=1e-9, equal_nan=True)
    # all full buckets carry exactly the configured volume
    assert (got["bucket_volume"].iloc[:-1] <= bucket).all()
    assert (got["imbalance"].between(0, 1)).all()


# ---------------------------------------------------------------------------
# feature matrix assembly (operators/feature_matrix.py)
# ---------------------------------------------------------------------------

from polars_trading_spark.operators.feature_matrix import bar_feature_matrix


def test_feature_matrix_composes(spark, bar_pdf):
    out = (
        bar_feature_matrix(spark.createDataFrame(bar_pdf), window=WINDOW)
        .toPandas()
        .sort_values(["symbol", "ts_event_start"])
        .reset_index(drop=True)
    )
    assert len(out) == len(bar_pdf)
    # columns from both feature families plus the target
    for c in ("vol_cc", "vol_yz", "roll_measure", "kyle_lambda", "amihud", "fwd_return", "label"):
        assert c in out.columns
    # target: one null per symbol (the last bar), sign matches fwd return
    for sym, grp in out.groupby("symbol"):
        grp = grp.sort_values("ts_event_start")
        assert grp["fwd_return"].isna().sum() == 1
        assert pd.isna(grp["fwd_return"].iloc[-1])
        filled = grp.dropna(subset=["fwd_return"])
        assert (np.sign(filled["fwd_return"]) == filled["label"]).all()
    # every feature agrees with its standalone operator
    vol = _spark_result(spark, bar_pdf, bar_volatility)
    micro = _spark_result(spark, bar_pdf, microstructure_features)
    for family in (vol, micro):
        assert (family[["symbol", "ts_event_start"]] == out[["symbol", "ts_event_start"]]).all().all()
        for c in family.columns.drop(["symbol", "ts_event_start"]):
            np.testing.assert_allclose(out[c], family[c], rtol=1e-12, equal_nan=True, err_msg=c)
    assert set(vol.columns) | set(micro.columns) | {"fwd_return", "label"} == set(out.columns)


def test_feature_matrix_one_row_per_bar_on_tied_starts(spark):
    """A block trade that spans several dollar bars gives them all its
    timestamp as ``timestamp_start``; the matrix must still emit one row
    per bar rather than multiply the bars that share a start."""
    from polars_trading_spark.operators.bars import dollar_bars

    trades = pd.DataFrame(
        {
            "symbol": "A",
            "timestamp": pd.date_range("2024-01-02 09:30", periods=40, freq="s"),
            "price": [100.0 + 0.01 * i for i in range(40)],
            "size": [30_000 if i % 10 == 0 else 100 for i in range(40)],
        }
    )
    bars = dollar_bars(spark.createDataFrame(trades), bar_size=1e6)
    starts = bars.toPandas()["timestamp_start"].value_counts()
    assert len(starts) < starts.sum()  # the tape does tie bar starts
    out = bar_feature_matrix(bars, window=3, ts_col="timestamp_start").toPandas()
    pd.testing.assert_series_equal(
        out["timestamp_start"].value_counts().sort_index(), starts.sort_index()
    )


# ---------------------------------------------------------------------------
# cross-sectional features (operators/cross_section.py)
# ---------------------------------------------------------------------------

from polars_trading_spark.operators.cross_section import momentum_rank, rolling_beta


def test_rolling_beta_of_market_itself(spark, bar_pdf):
    """A universe of ONE symbol has market return == its own return, so
    beta and corr must be exactly 1 wherever defined."""
    one = bar_pdf[bar_pdf.symbol == "AAPL"]
    out = rolling_beta(spark.createDataFrame(one), window=WINDOW).toPandas()
    vals = out.dropna()
    assert len(vals) > 10
    np.testing.assert_allclose(vals["beta"], 1.0, atol=1e-9)
    np.testing.assert_allclose(vals["corr"], 1.0, atol=1e-9)


def test_rolling_beta_golden(spark, bar_pdf):
    out = (
        rolling_beta(spark.createDataFrame(bar_pdf), window=WINDOW)
        .toPandas()
        .sort_values(["symbol", "ts_event_start"])
        .reset_index(drop=True)
    )
    # pandas replica
    pdf = bar_pdf.sort_values(["symbol", "ts_event_start"]).copy()
    pdf["r"] = pdf.groupby("symbol")["close"].transform(lambda s: np.log(s / s.shift(1)))
    mkt = pdf.dropna(subset=["r"]).groupby("ts_event_start")["r"].mean().rename("m")
    pdf = pdf.merge(mkt, on="ts_event_start", how="left")
    for sym, grp in pdf.groupby("symbol"):
        grp = grp.sort_values("ts_event_start").reset_index(drop=True)
        got = out[out.symbol == sym].reset_index(drop=True)
        for i in range(len(grp)):
            w = grp.iloc[max(0, i - WINDOW + 1) : i + 1][["r", "m"]].dropna()
            if len(w) == WINDOW and w["m"].var(ddof=0) > 0:
                cov = np.cov(w["m"], w["r"], ddof=0)[0, 1]
                exp_beta = cov / w["m"].var(ddof=0)
                assert got.loc[i, "beta"] == pytest.approx(exp_beta, rel=1e-6), i
            else:
                assert pd.isna(got.loc[i, "beta"])


def test_momentum_rank_invariants(spark, bar_pdf):
    out = momentum_rank(spark.createDataFrame(bar_pdf), lookback=3).toPandas()
    ranked = out.dropna(subset=["mom_rank"])
    for ts, grp in ranked.groupby("ts_event_start"):
        # ranks are a permutation of 1..n and ordered by momentum desc
        assert sorted(grp["mom_rank"]) == list(range(1, len(grp) + 1))
        assert (grp["n_ranked"] == len(grp)).all()
        srt = grp.sort_values("mom_rank")
        assert (srt["momentum"].diff().dropna() <= 1e-15).all()
    # unranked rows have no momentum
    assert out[out.mom_rank.isna()]["momentum"].isna().all()


def test_cross_section_validation(spark, bar_pdf):
    sdf = spark.createDataFrame(bar_pdf)
    with pytest.raises(ValueError):
        rolling_beta(sdf, window=1)
    with pytest.raises(ValueError):
        momentum_rank(sdf, lookback=0)


# ---------------------------------------------------------------------------
# Corwin-Schultz spread + Becker-Parkinson volatility
# (operators/microstructure.py::corwin_schultz)
# ---------------------------------------------------------------------------

from polars_trading_spark.operators.microstructure import corwin_schultz


def _pandas_corwin_schultz(grp: pd.DataFrame, window: int):
    """AFML 19.4 getBeta/getGamma/getAlpha reference implementation."""
    hl2 = np.log(grp["high"] / grp["low"]) ** 2
    beta = hl2.rolling(2).sum().rolling(window).mean()
    h2 = grp["high"].rolling(2).max()
    l2 = grp["low"].rolling(2).min()
    gamma = np.log(h2 / l2) ** 2
    den = 3 - 2 * 2**0.5
    alpha = ((2**0.5 - 1) * beta**0.5) / den - (gamma / den) ** 0.5
    alpha = alpha.clip(lower=0)
    spread = 2 * (np.exp(alpha) - 1) / (1 + np.exp(alpha))
    k2 = (8 / np.pi) ** 0.5
    sigma = ((2**-0.5 - 1) * beta**0.5) / (k2 * den) + (gamma / (k2**2 * den)) ** 0.5
    sigma = sigma.clip(lower=0)
    return spread, sigma


def test_corwin_schultz_matches_pandas(spark, bar_pdf):
    out = (
        corwin_schultz(spark.createDataFrame(bar_pdf), window=WINDOW)
        .toPandas()
        .sort_values(["symbol", "ts_event_start"])
        .reset_index(drop=True)
    )
    for sym, grp in bar_pdf.groupby("symbol"):
        grp = grp.sort_values("ts_event_start").reset_index(drop=True)
        spread, sigma = _pandas_corwin_schultz(grp, WINDOW)
        got = out[out.symbol == sym].reset_index(drop=True)
        for i in range(len(grp)):
            if np.isnan(spread.iloc[i]):
                assert pd.isna(got.loc[i, "cs_spread"]), f"{sym} row {i}"
            else:
                assert got.loc[i, "cs_spread"] == pytest.approx(spread.iloc[i], abs=1e-10)
                assert got.loc[i, "bp_sigma"] == pytest.approx(sigma.iloc[i], abs=1e-10)


def test_corwin_schultz_invariants_and_scaling(spark, bar_pdf):
    """Outputs are non-negative, null exactly until the beta window is
    full, and on a constant-mid frame doubling the log range (which
    doubles sqrt(beta) and sqrt(gamma) exactly) never shrinks sigma."""
    out = corwin_schultz(spark.createDataFrame(bar_pdf), window=WINDOW).toPandas()
    filled = out.dropna(subset=["cs_spread"])
    assert (filled["cs_spread"] >= 0).all() and (filled["bp_sigma"] >= 0).all()
    for sym, grp in out.groupby("symbol"):
        grp = grp.sort_values("ts_event_start").reset_index(drop=True)
        # beta needs the 2-bar sum (from bar 1) then `window` of those
        assert grp["cs_spread"].head(WINDOW).isna().all()
        assert grp["cs_spread"].tail(len(grp) - WINDOW).notna().all()

    # constant mid: the 2-bar range transform is exact log-doubling
    rng = np.random.default_rng(3)
    rows = []
    for i in range(30):
        r = abs(rng.normal(0, 0.01)) + 1e-4
        rows.append(
            {
                "symbol": "X",
                "ts_event_start": pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i),
                "open": 100.0,
                "high": 100.0 * math.exp(r),
                "low": 100.0 * math.exp(-r),
                "close": 100.0,
            }
        )
    narrow = pd.DataFrame(rows)
    wide = narrow.copy()
    wide["high"] = 100.0 * (narrow["high"] / 100.0) ** 2
    wide["low"] = 100.0 * (narrow["low"] / 100.0) ** 2
    nb = corwin_schultz(spark.createDataFrame(narrow), window=WINDOW).toPandas()
    wb = corwin_schultz(spark.createDataFrame(wide), window=WINDOW).toPandas()
    m = nb.merge(wb, on=["symbol", "ts_event_start"], suffixes=("_n", "_w")).dropna(
        subset=["bp_sigma_n", "bp_sigma_w"]
    )
    assert len(m) > 10
    assert (m["bp_sigma_w"] >= m["bp_sigma_n"] - 1e-12).all()


def test_corwin_schultz_validation(spark, bar_pdf):
    with pytest.raises(ValueError):
        corwin_schultz(spark.createDataFrame(bar_pdf), window=1)


# ---------------------------------------------------------------------------
# Rolling pairwise correlation (operators/cross_section.py)
# ---------------------------------------------------------------------------


def test_pair_correlation_matches_pandas(spark, bar_pdf):
    from polars_trading_spark.operators.cross_section import rolling_pair_correlation

    out = (
        rolling_pair_correlation(spark.createDataFrame(bar_pdf), window=WINDOW)
        .toPandas()
        .sort_values("ts_event_start")
        .reset_index(drop=True)
    )
    assert set(zip(out.sym_a, out.sym_b)) == {("AAPL", "MSFT")}
    rets = {}
    for sym, grp in bar_pdf.groupby("symbol"):
        grp = grp.sort_values("ts_event_start")
        rets[sym] = np.log(grp["close"] / grp["close"].shift(1)).dropna().reset_index(drop=True)
    expected = rets["AAPL"].rolling(WINDOW).corr(rets["MSFT"])
    got = out["corr"].to_numpy()
    np.testing.assert_allclose(got, expected.to_numpy(), rtol=1e-8, equal_nan=True)


def test_pair_correlation_self_identity(spark, bar_pdf):
    """Perfectly correlated series -> corr == 1 everywhere the window
    is full; ordering is canonical (sym_a < sym_b) with no self-pairs."""
    from polars_trading_spark.operators.cross_section import rolling_pair_correlation

    dup = bar_pdf[bar_pdf.symbol == "AAPL"].copy()
    dup["symbol"] = "ZZZZ"
    both = spark.createDataFrame(pd.concat([bar_pdf[bar_pdf.symbol == "AAPL"], dup]))
    out = rolling_pair_correlation(both, window=WINDOW).toPandas()
    assert set(zip(out.sym_a, out.sym_b)) == {("AAPL", "ZZZZ")}
    filled = out["corr"].dropna()
    np.testing.assert_allclose(filled, 1.0, rtol=1e-9)


def test_lead_lag_detects_leader(spark):
    """Symbol L's return at t is copied by F at t+1: corr(L_t, F_{t+1})
    must be ~1 and the asymmetry positive."""
    import datetime as dt

    import numpy as np

    from polars_trading_spark.operators.cross_section import lead_lag_corr

    rng = np.random.default_rng(23)
    rl = 0.01 * rng.standard_normal(300)
    rf = np.concatenate([[0.0], rl[:-1]])  # follower echoes leader with 1-bar delay
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    pl, pf = 100.0, 50.0
    for i in range(300):
        pl *= float(np.exp(rl[i]))
        pf *= float(np.exp(rf[i]))
        ts = t0 + dt.timedelta(minutes=15 * i)
        rows.append(("FOL", ts, pf))
        rows.append(("LEAD", ts, pl))
    df = spark.createDataFrame(rows, "symbol string, ts timestamp, close double")
    out = lead_lag_corr(df, lag=1, ts_col="ts").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["sym_a"], r["sym_b"]) == ("FOL", "LEAD")
    # LEAD's return predicts FOL's next return: corr_b_leads ~ 1
    assert r["corr_b_leads"] > 0.99
    assert abs(r["corr_a_leads"]) < 0.2
    assert r["llr"] < -0.8


def test_lead_lag_numpy_golden(spark):
    import datetime as dt

    import numpy as np

    from polars_trading_spark.operators.cross_section import lead_lag_corr

    rng = np.random.default_rng(31)
    ra = 0.01 * rng.standard_normal(200)
    rb = 0.01 * rng.standard_normal(200)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    pa, pb = 100.0, 60.0
    for i in range(200):
        pa *= float(np.exp(ra[i]))
        pb *= float(np.exp(rb[i]))
        ts = t0 + dt.timedelta(minutes=15 * i)
        rows.append(("A", ts, pa))
        rows.append(("B", ts, pb))
    df = spark.createDataFrame(rows, "symbol string, ts timestamp, close double")
    r = lead_lag_corr(df, lag=2, ts_col="ts").collect()[0]
    # bar 0 has no return: the return series is ra[1:]; a_t vs b_{t+2}
    exp_ab = np.corrcoef(ra[1:-2], rb[3:])[0, 1]
    exp_ba = np.corrcoef(rb[1:-2], ra[3:])[0, 1]
    assert r["corr_a_leads"] == pytest.approx(exp_ab, rel=1e-9)
    assert r["corr_b_leads"] == pytest.approx(exp_ba, rel=1e-9)


class TestFamaMacbeth:
    def _bars(self, spark, closes_by_symbol):
        import datetime as dt

        rows = []
        for sym, closes in closes_by_symbol.items():
            for i, c in enumerate(closes):
                rows.append((sym, dt.datetime(2021, 1, 4) + dt.timedelta(minutes=15 * i), float(c)))
        return spark.createDataFrame(rows, "symbol string, ts_event timestamp, close double")

    def test_matches_numpy_cross_sectional_ols(self, spark):
        import numpy as np

        from polars_trading_spark.operators.cross_section import fama_macbeth

        rng = np.random.RandomState(3)
        closes = {f"S{k}": (100 + rng.randn(12).cumsum()).tolist() for k in range(6)}
        out = {
            r["ts_event"]: r
            for r in fama_macbeth(
                self._bars(spark, closes), lookback=2, min_obs=3,
                ts_col="ts_event", close_col="close",
            ).collect()
        }
        # replicate per timestamp in numpy
        arr = {s: np.array(v) for s, v in closes.items()}
        n_ts = 12
        import datetime as dt

        for t in range(n_ts):
            fac, fwd = [], []
            for s, v in arr.items():
                if t - 2 >= 0 and t + 1 < n_ts:
                    fac.append(v[t] / v[t - 2] - 1)
                    fwd.append(v[t + 1] / v[t] - 1)
            ts = dt.datetime(2021, 1, 4) + dt.timedelta(minutes=15 * t)
            if len(fac) < 3 or np.var(fac) == 0:
                assert ts not in out
                continue
            g1, g0 = np.polyfit(fac, fwd, 1)
            assert out[ts]["n_obs"] == len(fac)
            assert out[ts]["gamma1"] == pytest.approx(g1, rel=1e-9, abs=1e-12)
            assert out[ts]["gamma0"] == pytest.approx(g0, rel=1e-9, abs=1e-12)

    def test_degenerate_factor_yields_null(self, spark):
        from polars_trading_spark.operators.cross_section import fama_macbeth

        # doubling price paths -> factor exactly 1.0 for every symbol
        # (power-of-2 ratios are float-exact, so the cross-sectional
        # variance is exactly zero, not epsilon)
        closes = {s: [1, 2, 4, 8, 16, 32] for s in ("A", "B", "C")}
        rows = fama_macbeth(
            self._bars(spark, closes), lookback=1, min_obs=3,
            ts_col="ts_event", close_col="close",
        ).collect()
        assert rows and all(r["gamma1"] is None and r["gamma0"] is None for r in rows)

    def test_min_obs_and_validation(self, spark):
        from polars_trading_spark.operators.cross_section import fama_macbeth

        closes = {"A": [1, 2, 3, 4], "B": [2, 3, 4, 5]}
        bars = self._bars(spark, closes)
        assert fama_macbeth(
            bars, lookback=1, min_obs=3, ts_col="ts_event", close_col="close"
        ).count() == 0
        with pytest.raises(ValueError):
            fama_macbeth(bars, lookback=0, ts_col="ts_event", close_col="close")
        with pytest.raises(ValueError):
            fama_macbeth(bars, min_obs=1, ts_col="ts_event", close_col="close")

    def test_plan_one_window_exchange_one_aggregate_no_python(self, spark):
        from polars_trading_spark.operators.cross_section import fama_macbeth
        from polars_trading_spark.plans import count_exchanges, count_python_stages

        closes = {"A": [1, 2, 3], "B": [2, 3, 4]}
        out = fama_macbeth(
            self._bars(spark, closes), lookback=1, ts_col="ts_event", close_col="close"
        )
        # one exchange for the per-symbol window, one for the per-ts agg
        assert count_exchanges(out) <= 2
        assert count_python_stages(out) == 0


class TestFamaMacbethSummary:
    def _bars(self, spark, seed=13, n=120, syms=("A", "B", "C", "D", "E")):
        import datetime as dt

        import numpy as np

        rng = np.random.RandomState(seed)
        base = dt.datetime(2024, 1, 1)
        rows = []
        for s_i, sym in enumerate(syms):
            p = 100 * np.exp(np.cumsum(rng.normal(0.0005 * s_i, 0.01, n)))
            for i in range(n):
                rows.append((sym, base + dt.timedelta(hours=i), float(p[i])))
        return spark.createDataFrame(
            rows, "symbol string, ts_event_start timestamp, close double"
        )

    @staticmethod
    def _ref(rows, lookback=5, min_obs=3, L=4):
        import numpy as np

        by_sym = {}
        for sym, ts, c in rows:
            by_sym.setdefault(sym, []).append((ts, c))
        per_ts = {}
        for sym, series in by_sym.items():
            series.sort()
            cs = [c for _, c in series]
            for i, (ts, c) in enumerate(series):
                fwd = cs[i + 1] / c - 1 if i + 1 < len(cs) else None
                fac = c / cs[i - lookback] - 1 if i >= lookback else None
                if fwd is not None and fac is not None:
                    per_ts.setdefault(ts, []).append((fac, fwd))
        g0s, g1s = [], []
        for ts in sorted(per_ts):
            pairs = per_ts[ts]
            if len(pairs) < min_obs:
                continue
            x = np.array([a for a, _ in pairs])
            y = np.array([b for _, b in pairs])
            den = len(x) * (x * x).sum() - x.sum() ** 2
            if den <= 0:
                continue
            g1 = (len(x) * (x * y).sum() - x.sum() * y.sum()) / den
            g1s.append(g1)
            g0s.append((y.sum() - g1 * x.sum()) / len(x))
        g = np.array(g1s)
        T = len(g)
        mu = g.mean()
        d = g - mu
        var = (d * d).sum()
        for l in range(1, L + 1):
            w = 1 - l / (L + 1)
            var += 2 * w * (d[l:] * d[:-l]).sum()
        var_mean = var / T**2
        return {
            "n_periods": T,
            "gamma1_mean": mu,
            "gamma1_t_nw": mu / var_mean**0.5 if var_mean > 0 else None,
            "gamma0_mean": float(np.mean(g0s)),
        }

    def test_matches_numpy_reference(self, spark):
        import pytest as pt

        from polars_trading_spark.operators.cross_section import fama_macbeth_summary

        bars = self._bars(spark)
        rows = [(r["symbol"], r["ts_event_start"], r["close"]) for r in bars.collect()]
        out = fama_macbeth_summary(bars).collect()
        assert len(out) == 1
        got, ref = out[0], self._ref(rows)
        assert got["n_periods"] == ref["n_periods"] > 50
        assert got["gamma1_mean"] == pt.approx(ref["gamma1_mean"], rel=1e-9, abs=1e-12)
        assert got["gamma1_t_nw"] == pt.approx(ref["gamma1_t_nw"], rel=1e-9)
        assert got["gamma0_mean"] == pt.approx(ref["gamma0_mean"], rel=1e-9, abs=1e-12)
        assert got["nw_lags"] == 4

    def test_validation_and_bounded_global_window(self, spark):
        import pytest as pt

        from polars_trading_spark.operators.cross_section import fama_macbeth_summary
        from polars_trading_spark.plans import (
            count_python_stages,
            unbounded_global_windows,
        )

        bars = self._bars(spark, n=30)
        with pt.raises(ValueError):
            fama_macbeth_summary(bars, nw_lags=-1)
        out = fama_macbeth_summary(bars)
        assert count_python_stages(out) == 0
        # the summary's global windows must sit above the per-timestamp
        # aggregate (cardinality already collapsed)
        assert unbounded_global_windows(out) == []


class TestTwoScaleRV:
    def _golden(self, prices, k):
        import math

        lp = [math.log(p) for p in prices]
        n = len(lp) - 1
        rv_all = sum((lp[j] - lp[j - 1]) ** 2 for j in range(1, len(lp)))
        rv_sub = sum((lp[j] - lp[j - k]) ** 2 for j in range(k, len(lp))) / k
        nbar = (n - k + 1) / k
        return rv_all, rv_sub, rv_sub - nbar / n * rv_all

    def test_matches_closed_form(self, spark):
        import datetime as dt

        import pytest as pt

        from polars_trading_spark.config import Config
        from polars_trading_spark.operators.volatility import two_scale_rv

        base = dt.datetime(2024, 1, 1, 9)
        prices = [100.0, 100.5, 99.8, 100.2, 101.0, 100.7, 100.9, 101.5, 101.2, 101.8]
        rows = [
            ("A", base + dt.timedelta(seconds=i), p, i) for i, p in enumerate(prices)
        ]
        df = spark.createDataFrame(
            rows, "symbol string, ts timestamp, price double, sq long"
        )
        with Config(timestamp_column="ts"):
            out = two_scale_rv(df, k=3, seq_col="sq").collect()
        assert len(out) == 1
        r = out[0]
        rv_all, rv_sub, tsrv = self._golden(prices, 3)
        assert r["n_ticks"] == 10 and r["n_returns"] == 9
        assert r["rv_all"] == pt.approx(rv_all, rel=1e-12)
        assert r["rv_sub_avg"] == pt.approx(rv_sub, rel=1e-12)
        assert r["tsrv"] == pt.approx(tsrv, rel=1e-12)

    def test_short_partition_nulls_and_day_split(self, spark):
        import datetime as dt

        from polars_trading_spark.config import Config
        from polars_trading_spark.operators.volatility import two_scale_rv

        base = dt.datetime(2024, 1, 1, 9)
        rows = [
            # day 1: 4 ticks -> 3 returns == k -> null (needs > k)
            *[("A", base + dt.timedelta(seconds=i), 100.0 + i, i) for i in range(4)],
            # day 2: 6 ticks -> 5 returns > k -> populated
            *[
                ("A", base + dt.timedelta(days=1, seconds=i), 100.0 + i, 10 + i)
                for i in range(6)
            ],
        ]
        df = spark.createDataFrame(
            rows, "symbol string, ts timestamp, price double, sq long"
        )
        with Config(timestamp_column="ts"):
            out = {str(r["day"]): r for r in two_scale_rv(df, k=3, seq_col="sq").collect()}
        assert out["2024-01-01"]["tsrv"] is None
        assert out["2024-01-02"]["tsrv"] is not None

    def test_validation_and_plan(self, spark):
        import datetime as dt

        import pytest as pt

        from polars_trading_spark.config import Config
        from polars_trading_spark.operators.volatility import two_scale_rv
        from polars_trading_spark.plans import count_exchanges, count_python_stages

        df = spark.createDataFrame(
            [("A", dt.datetime(2024, 1, 1), 1.0, 0)],
            "symbol string, ts timestamp, price double, sq long",
        )
        with Config(timestamp_column="ts"):
            with pt.raises(ValueError, match="k must be"):
                two_scale_rv(df, k=1)
            out = two_scale_rv(df, k=3, seq_col="sq")
        assert count_python_stages(out) == 0
        assert count_exchanges(out) <= 1  # one (symbol, day) partition


class TestPairsDistance:
    def test_matches_brute_force(self, spark):
        import datetime as dt
        import math

        import pytest as pt

        from polars_trading_spark.operators.cross_section import pairs_distance

        base = dt.datetime(2024, 1, 1)
        series = {
            "A": [100.0, 102.0, 101.0, 103.0],
            "B": [50.0, 51.0, 50.4, 51.6],   # ~A's path, halved: tiny SSD
            "C": [10.0, 9.0, 11.0, 8.0],
        }
        rows = [
            (s, base + dt.timedelta(days=i), p)
            for s, ps in series.items()
            for i, p in enumerate(ps)
        ]
        df = spark.createDataFrame(rows, "symbol string, ts timestamp, close double")
        out = {
            (r["sym_a"], r["sym_b"]): r
            for r in pairs_distance(df, ts_col="ts", close_col="close").collect()
        }
        assert set(out) == {("A", "B"), ("A", "C"), ("B", "C")}
        for (a, b), r in out.items():
            na = [p / series[a][0] for p in series[a]]
            nb = [p / series[b][0] for p in series[b]]
            ssd = sum((x - y) ** 2 for x, y in zip(na, nb))
            assert r["n_obs"] == 4
            assert r["ssd"] == pt.approx(ssd, rel=1e-12)
            assert r["rmsd"] == pt.approx(math.sqrt(ssd / 4), rel=1e-12)
        # the co-moving pair is by far the closest
        assert out[("A", "B")]["ssd"] < out[("A", "C")]["ssd"]
        assert out[("A", "B")]["ssd"] < out[("B", "C")]["ssd"]

    def test_min_obs_and_partial_overlap(self, spark):
        import datetime as dt

        from polars_trading_spark.operators.cross_section import pairs_distance

        base = dt.datetime(2024, 1, 1)
        rows = [
            ("A", base, 1.0), ("A", base + dt.timedelta(days=1), 1.1),
            ("B", base, 2.0), ("B", base + dt.timedelta(days=1), 2.2),
            ("C", base, 3.0),  # only one shared bar with anyone
        ]
        df = spark.createDataFrame(rows, "symbol string, ts timestamp, close double")
        out = pairs_distance(df, ts_col="ts", close_col="close", min_obs=2).collect()
        assert {(r["sym_a"], r["sym_b"]) for r in out} == {("A", "B")}

    def test_plan_no_python_no_global_window(self, spark):
        import datetime as dt

        from polars_trading_spark.operators.cross_section import pairs_distance
        from polars_trading_spark.plans import count_python_stages, unbounded_global_windows

        df = spark.createDataFrame(
            [("A", dt.datetime(2024, 1, 1), 1.0)],
            "symbol string, ts timestamp, close double",
        )
        out = pairs_distance(df, ts_col="ts", close_col="close")
        assert count_python_stages(out) == 0
        assert unbounded_global_windows(out) == []


class TestRealizedMoments:
    def test_matches_closed_form(self, spark):
        import datetime as dt
        import math

        import pytest as pt

        from polars_trading_spark.config import Config
        from polars_trading_spark.operators.volatility import realized_moments

        base = dt.datetime(2024, 1, 1, 9)
        prices = [100.0, 101.0, 99.5, 100.8, 100.1, 102.0]
        rows = [("A", base + dt.timedelta(seconds=i), p, i) for i, p in enumerate(prices)]
        df = spark.createDataFrame(rows, "symbol string, ts timestamp, price double, sq long")
        with Config(timestamp_column="ts"):
            out = realized_moments(df, seq_col="sq").collect()
        assert len(out) == 1
        r = out[0]
        rets = [math.log(prices[i] / prices[i - 1]) for i in range(1, len(prices))]
        n = len(rets)
        rv = sum(x * x for x in rets)
        rskew = math.sqrt(n) * sum(x ** 3 for x in rets) / rv ** 1.5
        rkurt = n * sum(x ** 4 for x in rets) / rv ** 2
        assert r["n_returns"] == n
        assert r["rv"] == pt.approx(rv, rel=1e-12)
        assert r["rskew"] == pt.approx(rskew, rel=1e-12)
        assert r["rkurt"] == pt.approx(rkurt, rel=1e-12)

    def test_degenerate_partitions_null(self, spark):
        import datetime as dt

        from polars_trading_spark.config import Config
        from polars_trading_spark.operators.volatility import realized_moments

        base = dt.datetime(2024, 1, 1, 9)
        rows = [
            ("A", base, 100.0, 0),
            ("A", base + dt.timedelta(seconds=1), 100.0, 1),  # 1 return only
            ("B", base, 100.0, 2),
            ("B", base + dt.timedelta(seconds=1), 100.0, 3),
            ("B", base + dt.timedelta(seconds=2), 100.0, 4),  # 2 returns, rv=0
        ]
        df = spark.createDataFrame(rows, "symbol string, ts timestamp, price double, sq long")
        with Config(timestamp_column="ts"):
            out = {r["symbol"]: r for r in realized_moments(df, seq_col="sq").collect()}
        assert out["A"]["rv"] is None        # n < 2
        assert out["B"]["rv"] is None        # rv == 0
        assert out["B"]["n_returns"] == 2

    def test_plan_single_exchange_no_python(self, spark):
        import datetime as dt

        from polars_trading_spark.config import Config
        from polars_trading_spark.operators.volatility import realized_moments
        from polars_trading_spark.plans import count_exchanges, count_python_stages

        df = spark.createDataFrame(
            [("A", dt.datetime(2024, 1, 1), 1.0, 0)],
            "symbol string, ts timestamp, price double, sq long",
        )
        with Config(timestamp_column="ts"):
            out = realized_moments(df, seq_col="sq")
        assert count_python_stages(out) == 0
        assert count_exchanges(out) <= 1
