"""Batch workloads: which public operators run, on which tape, and how
each output is checked.

An ``Op`` is one output materialisation.  ``build`` calls into the
program (its own span opens around it) and may open child spans for
calls it makes first; ``check`` compares the collected output with the
generator-derived ``Reference``.
"""

from __future__ import annotations

import dataclasses
from typing import Callable

import pandas as pd

from checks import Reference

__all__ = ["Op", "Workload", "WORKLOADS", "SPANS", "BUILD_ONLY_SPANS", "batch_workload"]

# bar_sampling parameters (sized to the tape: about 100 volume/dollar
# bars and 10 tick bars per (symbol, date), a CUSUM event every ~100 ticks).
TIME_BAR = "1m"
TICK_BAR = 200
VOLUME_BAR = 10_000
DOLLAR_BAR = 1_000_000.0
IMBALANCE_THRESHOLD = 10.0
# Prices move in whole cents, so CUSUM excursions are multiples of 0.01;
# a threshold half a cent off that grid keeps float rounding from
# deciding any event.
CUSUM_H = 0.505

# tick_labeling parameters.
VOL_SPAN = 100
FFD_D, FFD_THRESHOLD = 0.4, 1e-3  # 55 lag terms
BARRIER = "30m"


@dataclasses.dataclass(frozen=True)
class Op:
    span: str  # <module>.<function> of the public call
    build: Callable  # (df, span) -> DataFrame
    check: Callable  # (pdf, Reference, outputs) -> list[str]


@dataclasses.dataclass(frozen=True)
class Workload:
    n_ticks: int
    n_symbols: int
    n_days: int
    ops: tuple[Op, ...]


def _bar_ops() -> tuple[Op, ...]:
    from polars_trading_spark.operators import bars
    from polars_trading_spark.operators.feature_matrix import bar_feature_matrix
    from polars_trading_spark.operators.imbalance import imbalance_bars
    from polars_trading_spark.operators.sampling import cusum_filter

    def feature_matrix(df, span):
        # dollar_bars is lazy; its build time counts toward this call.
        return bar_feature_matrix(bars.dollar_bars(df, bar_size=DOLLAR_BAR), ts_col="timestamp_start")

    return (
        Op("operators.bars.time_bars", lambda df, span: bars.time_bars(df, bar_size=TIME_BAR),
           lambda pdf, ref, out: ref.bars(pdf, "time_bars")),
        Op("operators.bars.tick_bars", lambda df, span: bars.tick_bars(df, bar_size=TICK_BAR),
           lambda pdf, ref, out: ref.bars(pdf, "tick_bars")),
        Op("operators.bars.volume_bars", lambda df, span: bars.volume_bars(df, bar_size=VOLUME_BAR),
           lambda pdf, ref, out: ref.volume_bars(pdf, VOLUME_BAR)),
        Op("operators.bars.dollar_bars", lambda df, span: bars.dollar_bars(df, bar_size=DOLLAR_BAR),
           lambda pdf, ref, out: ref.bars(pdf, "dollar_bars", count_trades=False)),
        Op("operators.imbalance.imbalance_bars",
           lambda df, span: imbalance_bars(df, threshold=IMBALANCE_THRESHOLD, mode="tick"),
           lambda pdf, ref, out: ref.bars(pdf, "imbalance_bars")),
        Op("operators.sampling.cusum_filter", lambda df, span: cusum_filter(df, CUSUM_H),
           lambda pdf, ref, out: ref.cusum(pdf, CUSUM_H)),
        Op("operators.feature_matrix.bar_feature_matrix", feature_matrix,
           lambda pdf, ref, out: ref.feature_matrix(pdf, _rows(out, "operators.bars.dollar_bars"))),
    )


def _label_ops(seed: int) -> tuple[Op, ...]:
    from polars_trading_spark.operators.dynamic_labels import (
        daily_vol,
        get_triple_barrier_label,
        get_vertical_barrier_by_timedelta,
    )
    from polars_trading_spark.operators.features import frac_diff
    from polars_trading_spark.operators.sample_weights import sample_weights

    def fractional(df, span):
        fd = frac_diff("price", FFD_D, FFD_THRESHOLD, "symbol", order_by=["timestamp"])
        return df.select("symbol", "timestamp", fd.alias("frac_diff"))

    def weights(df, span):
        with span("operators.dynamic_labels.vertical_barrier"):
            events = get_vertical_barrier_by_timedelta(df, BARRIER)
        return sample_weights(events, df, t1_col="vertical_barrier")

    return (
        Op("operators.dynamic_labels.daily_vol", lambda df, span: daily_vol(df, span=VOL_SPAN),
           lambda pdf, ref, out: ref.daily_vol(pdf)),
        Op("operators.features.frac_diff", fractional,
           lambda pdf, ref, out: ref.frac_diff(pdf, FFD_D, FFD_THRESHOLD, seed)),
        Op("operators.dynamic_labels.get_triple_barrier_label",
           lambda df, span: get_triple_barrier_label(df, span=VOL_SPAN, barrier_offset=BARRIER),
           lambda pdf, ref, out: ref.triple_barrier(pdf)),
        Op("operators.sample_weights.sample_weights", weights,
           lambda pdf, ref, out: ref.sample_weights(pdf)),
    )


def _rows(outputs: dict[str, pd.DataFrame | None], span: str) -> int:
    pdf = outputs.get(span)
    return -1 if pdf is None else len(pdf)


def batch_workload(name: str, seed: int, scale: float) -> Workload:
    """The named batch workload; ``scale`` shrinks the tape (smoke tests)."""
    if name == "bar_sampling":
        return Workload(max(2_000, int(50_000 * scale)), 20, 5, _bar_ops())
    if name == "tick_labeling":
        return Workload(max(4_000, int(20_000 * scale)), 8, 5, _label_ops(seed))
    raise KeyError(name)


WORKLOADS = ("bar_sampling", "tick_labeling", "live_bars")

# Every span a traced batch run reports, in output order.
SPANS = (
    "operators.bars.time_bars",
    "operators.bars.tick_bars",
    "operators.bars.volume_bars",
    "operators.bars.dollar_bars",
    "operators.imbalance.imbalance_bars",
    "operators.sampling.cusum_filter",
    "operators.feature_matrix.bar_feature_matrix",
    "operators.dynamic_labels.daily_vol",
    "operators.dynamic_labels.get_triple_barrier_label",
    "operators.features.frac_diff",
    "operators.sample_weights.sample_weights",
)
# Metric names may hold at most 64 characters, so the span of
# get_vertical_barrier_by_timedelta is named vertical_barrier.
BUILD_ONLY_SPANS = ("operators.dynamic_labels.vertical_barrier", "sources.readers.read_trades")
