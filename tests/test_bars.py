"""Bar operators: golden fixtures + differential tests vs DuckDB oracles."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from polars_trading_spark import Config, dollar_bars, time_bars, volume_bars
from polars_trading_spark.registry import QUERIES
from tests._compare import assert_query_matches_oracle


@pytest.fixture
def single_trade(spark):
    return spark.createDataFrame(
        [("A", 3.0, 8, dt.datetime(2021, 1, 1))],
        "symbol string, price double, size long, ts_event timestamp",
    )


def test_volume_bars_overflow_trade_golden(spark, single_trade):
    # Reference golden: tests/test_bars.py:78-113 — one size-8 trade at
    # bar_size 5 splits into two bars with volumes {5, 3}.
    with Config(timestamp_column="ts_event"):
        out = volume_bars(single_trade, bar_size=5)
    rows = sorted(out.collect(), key=lambda r: r["volume"])
    assert len(rows) == 2
    assert [r["volume"] for r in rows] == [3, 5]
    for r in rows:
        assert r["open"] == r["high"] == r["low"] == r["close"] == r["vwap"] == 3.0
        assert r["n_trades"] == 1
        assert r["ts_event_start"] == r["ts_event_end"] == dt.datetime(2021, 1, 1)


def test_dollar_bars_overflow_trade_golden(spark, single_trade):
    # Reference golden: tests/test_bars.py:115-154 — one 8-share trade at
    # price 3 with bar_size 13 → bars of 5 and 3 shares (share-level
    # overflow closes the first bar at cum 15 >= 13).
    with Config(timestamp_column="ts_event"):
        out = dollar_bars(single_trade, bar_size=13.0)
    rows = sorted(out.collect(), key=lambda r: r["volume"])
    assert [r["volume"] for r in rows] == [3, 5]
    for r in rows:
        assert r["open"] == r["close"] == r["vwap"] == 3.0
        assert r["n_trades"] == 1


def test_dollar_bars_null_size_golden(spark):
    # A null size weighs 0 shares: the trade drops out exactly like a
    # zero-size one, and the bars match the tape without it.
    rows = [
        ("A", 3.0, 8, dt.datetime(2021, 1, 1, 9, 30, 0)),
        ("A", 4.0, None, dt.datetime(2021, 1, 1, 9, 30, 1)),
        ("A", 5.0, 2, dt.datetime(2021, 1, 1, 9, 30, 2)),
    ]
    schema = "symbol string, price double, size long, ts_event timestamp"
    with Config(timestamp_column="ts_event"):
        got = dollar_bars(spark.createDataFrame(rows, schema), bar_size=13.0).collect()
        want = dollar_bars(
            spark.createDataFrame([rows[0], rows[2]], schema), bar_size=13.0
        ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # 5 shares at 3 close the first bar (15 >= 13); 3 more at 3 plus 1
    # at 5 close the second (14); the last share stays open.
    assert sorted(r["volume"] for r in got) == [1, 4, 5]


def test_time_bars_buckets_and_schema(spark):
    df = spark.createDataFrame(
        [
            ("A", 1.0, 10, dt.datetime(2021, 1, 1, 9, 30, 15)),
            ("A", 2.0, 20, dt.datetime(2021, 1, 1, 9, 30, 45)),
            ("A", 3.0, 30, dt.datetime(2021, 1, 1, 9, 31, 5)),
            ("B", 9.0, 5, dt.datetime(2021, 1, 1, 9, 30, 59)),
        ],
        "symbol string, price double, size long, ts_event timestamp",
    )
    with Config(timestamp_column="ts_event"):
        out = time_bars(df, bar_size="1m").collect()
    by_key = {(r["symbol"], r["ts_event"]): r for r in out}
    a1 = by_key[("A", dt.datetime(2021, 1, 1, 9, 30))]
    assert (a1["open"], a1["close"], a1["high"], a1["low"]) == (1.0, 2.0, 2.0, 1.0)
    assert a1["volume"] == 30
    assert a1["n_trades"] == 2
    assert a1["vwap"] == pytest.approx((10 * 1.0 + 20 * 2.0) / 30)
    a2 = by_key[("A", dt.datetime(2021, 1, 1, 9, 31))]
    assert a2["n_trades"] == 1
    assert ("B", dt.datetime(2021, 1, 1, 9, 30)) in by_key


@pytest.mark.parametrize("name", ["time_bars", "tick_bars", "volume_bars"])
def test_bars_match_duckdb_oracle(spark, sf_dir, name):
    assert_query_matches_oracle(spark, QUERIES[name], sf_dir)


def test_dollar_bars_runs_and_conserves_volume(spark, sf_dir):
    # The values are checked against the recursive-CTE DuckDB oracle in
    # test_registry_oracles; this pins the invariant that every share of
    # the source lands in exactly one bar.
    q = QUERIES["dollar_bars"]
    out = q.spark(spark, sf_dir).collect()
    assert len(out) > 0
    from polars_trading_spark.sources.tables import trades_from_events

    total_shares = trades_from_events(spark, sf_dir).agg(F.sum("size")).collect()[0][0]
    assert sum(r["volume"] for r in out) == total_shares


# ---------------------------------------------------------------------------
# Range bars (operators/bars.py::range_bars)
# ---------------------------------------------------------------------------


def test_range_bars_handcrafted(spark):
    """Prices 100, 101, 95, 99, 104, 96: with range 5 the breaches are
    at 95 (|95-100|>=5 closes bar 0) and 104 (|104-99|>=5 closes bar 1),
    leaving 96 open in bar 2."""
    import datetime as dt

    from polars_trading_spark.operators.bars import range_bars

    prices = [100.0, 101.0, 95.0, 99.0, 104.0, 96.0]
    rows = [
        ("A", p, 10, dt.datetime(2024, 1, 1, 9, 30, i)) for i, p in enumerate(prices)
    ]
    df = spark.createDataFrame(rows, "symbol string, price double, size long, ts_event timestamp")
    with Config(timestamp_column="ts_event"):
        out = (
            range_bars(df, 5.0)
            .orderBy("ts_event_start")
            .toPandas()
        )
    assert len(out) == 3
    assert out["open"].tolist() == [100.0, 99.0, 96.0]
    assert out["close"].tolist() == [95.0, 104.0, 96.0]
    assert out["n_trades"].tolist() == [3, 2, 1]


def test_range_bars_price_resolution_property(spark):
    """Every closed bar's |close - open| >= range; the final (open) bar
    per (symbol, day) may be narrower."""
    import numpy as np

    from polars_trading_spark.operators.bars import range_bars
    from polars_trading_spark.sources.tables import trades_from_events

    with Config(timestamp_column="ts_event"):
        out = range_bars(
            trades_from_events(spark, "/root/testdata/sf0.001"), 25.0
        ).toPandas()
    out = out.sort_values(["symbol", "ts_event_start"])
    grp = out.groupby([out.symbol, out.ts_event_start.dt.normalize()])
    closed = grp.apply(lambda g: g.iloc[:-1], include_groups=False)
    if len(closed):
        assert (np.abs(closed["close"] - closed["open"]) >= 25.0).all()


def test_range_bars_validation(spark):
    from polars_trading_spark.operators.bars import range_bars

    with pytest.raises(ValueError, match="range_size"):
        range_bars(spark.range(1), 0.0)
