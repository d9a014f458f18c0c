"""Print the physical plan of every bar clock, bar feature, labeling and
sample-weight operator.

Each operator is built on the events-derived trades table twice: as
read (the source declares per-group-unique timestamps) and with that
declaration stripped.  Expression ids (``#123``) and exchange node ids
(``[plan_id=123]``, a session counter that moves with the jobs AQE
re-plans, so it differs between two runs of one checkout) are removed,
so the output of two checkouts can be diffed directly; a refactor that
must keep every plan unchanged shows an empty diff.

    python3 scripts/plan_fingerprint.py [sf_dir] > plans.txt

One line per (operator, source) gives a short hash; the full plans
follow.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
os.environ.setdefault("PTS_SHUFFLE_PARTITIONS", "4")

from pyspark.sql import functions as F  # noqa: E402

from polars_trading_spark._utils import SEQ_COL  # noqa: E402
from polars_trading_spark.config import Config  # noqa: E402
from polars_trading_spark.operators import bars, imbalance  # noqa: E402
from polars_trading_spark.operators.bet_sizing import average_active_bets  # noqa: E402
from polars_trading_spark.operators.dynamic_labels import (  # noqa: E402
    daily_vol,
    get_triple_barrier_label,
    get_vertical_barrier_by_timedelta,
)
from polars_trading_spark.operators.feature_matrix import bar_feature_matrix  # noqa: E402
from polars_trading_spark.operators.microstructure import microstructure_features  # noqa: E402
from polars_trading_spark.operators.sample_weights import (  # noqa: E402
    label_concurrency,
    sample_weights,
)
from polars_trading_spark.operators.volatility import bar_volatility  # noqa: E402
from polars_trading_spark.plans import plan_string  # noqa: E402
from polars_trading_spark.session import get_spark  # noqa: E402
from polars_trading_spark.sources.tables import trades_from_events  # noqa: E402


def _meta(df):
    sided = df.withColumn("side", F.when(F.col(SEQ_COL) % 2 == 0, 1.0).otherwise(-1.0))
    return get_triple_barrier_label(
        sided, span=20, barrier_offset="4h", label_style="meta", side_col="side"
    )


def _weights(df):
    events = get_vertical_barrier_by_timedelta(df, "4h")
    return sample_weights(events, df, t1_col="vertical_barrier")


def _concurrency(df):
    events = get_vertical_barrier_by_timedelta(df, "4h")
    return label_concurrency(events, df, t1_col="vertical_barrier")


def _active_bets(df):
    events = get_vertical_barrier_by_timedelta(df, "4h").withColumn("bet_size", F.lit(0.5))
    return average_active_bets(events, t1_col="vertical_barrier")


OPERATORS = {
    "time_bars": lambda df: bars.time_bars(df, bar_size="15m"),
    "tick_bars": lambda df: bars.tick_bars(df, bar_size=50),
    "volume_bars": lambda df: bars.volume_bars(df, bar_size=200_000),
    "dollar_bars": lambda df: bars.dollar_bars(df, bar_size=1e6),
    "range_bars": lambda df: bars.range_bars(df, 0.5),
    "imbalance_bars[tick]": lambda df: imbalance.imbalance_bars(df, threshold=6, mode="tick"),
    "imbalance_bars[volume]": lambda df: imbalance.imbalance_bars(df, threshold=1e5, mode="volume"),
    "imbalance_bars[dollar]": lambda df: imbalance.imbalance_bars(df, threshold=1e6, mode="dollar"),
    "run_bars": lambda df: imbalance.run_bars(df, threshold=6),
    "imbalance_bars_adaptive": lambda df: imbalance.imbalance_bars_adaptive(df),
    "daily_vol": lambda df: daily_vol(df, span=20),
    "vertical_barrier": lambda df: get_vertical_barrier_by_timedelta(df, "4h"),
    "get_triple_barrier_label": lambda df: get_triple_barrier_label(df, span=20, barrier_offset="4h"),
    "get_triple_barrier_label[meta]": _meta,
    "sample_weights": _weights,
    "label_concurrency": _concurrency,
    "average_active_bets": _active_bets,
    "bar_volatility": lambda df: bar_volatility(bars.time_bars(df, bar_size="15m")),
    "microstructure_features": lambda df: microstructure_features(bars.time_bars(df, bar_size="15m")),
    "bar_feature_matrix[dollar]": lambda df: bar_feature_matrix(bars.dollar_bars(df, bar_size=1e6)),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-fingerprint")
    spark.sparkContext.setLogLevel("ERROR")
    declared = trades_from_events(spark, sf_dir)
    sources = {"declared": declared, "undeclared": declared.withMetadata("ts_event", {})}
    plans = {}
    with Config(timestamp_column="ts_event"):
        for name, build in OPERATORS.items():
            for label, src in sources.items():
                plan = re.sub(r"#\d+|, \[plan_id=\d+\]", "", plan_string(build(src), "physical"))
                plans[f"{name} {label}"] = plan
                print(f"{name:32s} {label:10s} {hashlib.sha1(plan.encode()).hexdigest()[:12]}")
    for key, plan in plans.items():
        print(f"\n=== {key}\n{plan}")
    spark.stop()


if __name__ == "__main__":
    main()
