"""Exponentially-weighted moving statistics.

Spark has no native EWM (reference uses Polars ``ewm_std``,
polars_trading/labels/dynamic_labels.py:64-71).  Two implementations:

* ``method="pandas"``: one ``applyInPandas`` pass per group running
  ``Series.ewm(span).std()`` — bit-compatible with the pandas / AFML
  oracle (adjust=True, bias=False, ignore_na=False), kept for exact
  pandas interior-null semantics and as the cross-check for native.
* ``method="native"`` (default): closed-form via *segment-renormalized*
  cumulative sums, entirely inside codegen and valid for unbounded
  series.  The naive closed form (weights ``r^t``, r = 1/(1-α))
  overflows float64 around t ≈ 354·span; instead the per-group row
  index t is split into chunks of L = 16·(span+1) rows (k = t div L,
  j = t mod L) so every materialized exponent is bounded:

      A_loc(t) = Σ_{i in chunk k, i≤t} x_i r^{j_i}      (r^j ≤ r^{L-1} ≈ e³²)
      A_tot(k) = chunk k's full A_loc
      S_t = d^j · (A_loc(t) + Σ_{ℓ=1..M} d^{ℓL} · A_tot(k-ℓ)),  d = 1-α

  and likewise C_t for x².  EWM weights decay as d^{t-i}, so data ℓ
  chunks back carries relative weight ≤ d^{ℓL} = e^{-32ℓ}; M = 2 keeps
  every term above 1e-28 relative — far below float64 visibility, so
  the truncation is exact-in-double for any series length.  The weight
  sums need no data at all:  B_t = (1-d^{t+1})/(1-d),
  D_t = (1-d^{2(t+1)})/(1-d²)  (d < 1: underflow is the correct limit).
  Then mean = S/B and var = (C/B - mean²)·B²/(B²-D) (bias-corrected).

  Plan shape: one exchange on the group key; the chunk windows reuse
  that partitioning (hash(group) satisfies clustering on
  (group, chunk)), and prior-chunk totals come from exact range
  frames on the chunk index — no join, no second scan: the whole
  operator is a single-shuffle, zero-Python pipeline.

Null handling: null inputs yield null output and do not advance the
weighting (only non-null rows get a row index) — equivalent to pandas
over a leading-null series; interior nulls follow ignore_na=True
semantics in native mode and ignore_na=False in pandas mode (document
at call sites; the engine's daily_vol produces leading nulls only).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["ewm_std"]


def ewm_std(
    df: DataFrame,
    value_col: str,
    span: int,
    *,
    by: Sequence[str] = (),
    order_by: Sequence[str] = (),
    output_col: str = "ewm_std",
    method: str = "native",
) -> DataFrame:
    """Append bias-corrected exponentially-weighted std of ``value_col``
    (``method="native"``; ``"pandas"`` is the reference implementation,
    see the module docstring)."""
    if method == "native":
        return _ewm_std_native(df, value_col, span, by=by, order_by=order_by, output_col=output_col)
    if method != "pandas":
        raise ValueError(f"unknown method {method!r}")

    drop = []
    if not by:
        df = df.withColumn("__pts_one", F.lit(1))
        by = ["__pts_one"]
        drop = ["__pts_one"]
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(output_col, T.DoubleType())]
    )
    order_cols = list(order_by)

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(drop=True)
        std = pdf[value_col].ewm(span=span).std()
        pdf[output_col] = std.where(np.isfinite(std), None)
        return pdf

    out = df.groupBy(*by).applyInPandas(compute, schema=out_schema)
    return out.drop(*drop) if drop else out


def _ewm_std_native(
    df: DataFrame,
    value_col: str,
    span: int,
    *,
    by: Sequence[str] = (),
    order_by: Sequence[str] = (),
    output_col: str = "ewm_std",
) -> DataFrame:
    alpha = 2.0 / (span + 1.0)
    d = 1.0 - alpha
    r = 1.0 / d
    chunk_len = 16 * (span + 1)  # d^L = e^-32: one skipped chunk is invisible
    carried = 2  # chunks of history carried; dropped weight <= d^(2L+1) ~ 1e-28
    x = F.col(value_col)

    drop = []
    if not by:
        df = df.withColumn("__pts_one", F.lit(1))
        by = ["__pts_one"]
        drop = ["__pts_one"]
    part = list(by)
    w_cum = (
        Window.partitionBy(*part)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    # Row index over non-null values only; chunk + local offset from it.
    t = F.count(F.when(x.isNotNull(), 1)).over(w_cum) - 1
    staged = (
        df.withColumn("__t", t)
        .withColumn("__k", F.floor(F.col("__t") / chunk_len))
        .withColumn("__j", (F.col("__t") - F.col("__k") * chunk_len).cast("double"))
    )

    # Within-chunk cumulative sums: exponents bounded by r^(L-1).
    # hash(part) from the first window satisfies clustering on
    # (part, __k), so neither this window, the chunk aggregate, nor the
    # summary join adds an exchange.
    w_chunk = (
        Window.partitionBy(*part, "__k")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rj = F.when(x.isNotNull(), F.pow(F.lit(r), F.col("__j")))
    staged = staged.withColumn("__a_loc", F.sum(rj * x).over(w_chunk)).withColumn(
        "__c_loc", F.sum(rj * x * x).over(w_chunk)
    )

    # Chunk totals on every row (full-frame window over the same sort),
    # then the carry: previous chunks' totals picked out with exact
    # range frames on __k (rows at __k-l all carry chunk k-l's total,
    # max collapses them).  Same partitioning and sort as the chunk
    # window — no join, no second scan of the input, zero exchanges
    # beyond the group-key one.
    w_chunk_tot = Window.partitionBy(*part, "__k")
    staged = staged.withColumn("__a_tot", F.sum(rj * x).over(w_chunk_tot)).withColumn(
        "__c_tot", F.sum(rj * x * x).over(w_chunk_tot)
    )
    w_k = Window.partitionBy(*part).orderBy("__k")
    carry_a = sum(
        (
            F.coalesce(
                F.max("__a_tot").over(w_k.rangeBetween(-lag, -lag)), F.lit(0.0)
            )
            * (d**(lag * chunk_len))
            for lag in range(1, carried + 1)
        ),
        F.lit(0.0),
    )
    carry_c = sum(
        (
            F.coalesce(
                F.max("__c_tot").over(w_k.rangeBetween(-lag, -lag)), F.lit(0.0)
            )
            * (d**(lag * chunk_len))
            for lag in range(1, carried + 1)
        ),
        F.lit(0.0),
    )
    out = staged.withColumn("__carry_a", carry_a).withColumn("__carry_c", carry_c)

    dj = F.pow(F.lit(d), F.col("__j"))
    s_t = dj * (F.col("__a_loc") + F.col("__carry_a"))
    c_t = dj * (F.col("__c_loc") + F.col("__carry_c"))
    # Weight sums are pure geometry — no data, no overflow (d < 1).
    tp1 = (F.col("__t") + 1).cast("double")
    b_t = (F.lit(1.0) - F.pow(F.lit(d), tp1)) / (1.0 - d)
    d_t = (F.lit(1.0) - F.pow(F.lit(d * d), tp1)) / (1.0 - d * d)

    mean = s_t / b_t
    b2 = b_t * b_t
    var = (c_t / b_t - mean * mean) * (b2 / (b2 - d_t))
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    return (
        out.withColumn(
            output_col,
            F.when(x.isNull() | (F.col("__t") < 1), F.lit(None)).otherwise(std),
        )
        .drop(
            "__t",
            "__k",
            "__j",
            "__a_loc",
            "__c_loc",
            "__a_tot",
            "__c_tot",
            "__carry_a",
            "__carry_c",
            *drop,
        )
    )
