"""DataFrame-level indicator transforms (Spark-first orchestration).

The reference exposes ``sma/ema/rsi/macd`` as DataFusion *window UDFs*
evaluated over whole partitions (``src/functions/sma.rs:66-124``,
``uses_window_frame() == false``). Spark's frame-based ``WindowExec``
cannot express these recursive scans, so the idiomatic mapping is:

- **SMA fast path** — a plain windowed ``avg`` gated by a windowed
  ``count`` (pure Catalyst, whole-stage codegen, no Python). Exact
  whenever the value column has no NULLs (the null-skipping reference
  semantics only diverge on NULL inputs).
- **Exact path for all four** — one ``plans.series.fold_series`` pass
  that appends every requested indicator column; one shuffle total.

Scale notes (100 TB):
- The only shuffle is the groupBy on the partition keys; all
  indicators for a series are computed in that single pass.
- Per-group memory is O(series length). Partition keys should be
  fine-grained (e.g. ``(ticker,)`` or ``(ticker, year)``); the driver
  never collects.
- Requesting a *global* series (no partition key) is a 1-task
  bottleneck by definition of the semantics; we allow it but warn.
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass
from typing import Iterable, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..plans.series import fold_series
from . import kernels
from .kernels import ema_kernel, macd_kernel, rsi_kernel, sma_kernel

__all__ = ["IndicatorSpec", "sma", "ema", "rsi", "macd", "with_indicators",
           "sma_native"]


@dataclass(frozen=True)
class IndicatorSpec:
    """One requested indicator column.

    ``value_col`` overrides the transform-level default input column,
    allowing cross-column enrichment (e.g. a price EMA and a volume SMA)
    in one pass/shuffle — the batch analog of the streaming engine's
    price+volume state (streaming.rs:56-84).
    """

    kind: str  # 'sma' | 'ema' | 'rsi' | 'macd'
    window: int | None
    out_col: str
    value_col: str | None = None

    def __post_init__(self):
        if self.kind not in ("sma", "ema", "rsi", "macd"):
            raise ValueError(f"unknown indicator kind: {self.kind}")
        if self.kind != "macd" and (self.window is None or self.window <= 0):
            raise ValueError(f"{self.kind} requires a positive window")


def sma(window: int, out_col: str | None = None,
        value_col: str | None = None) -> IndicatorSpec:
    return IndicatorSpec("sma", window, out_col or f"sma_{window}", value_col)


def ema(window: int, out_col: str | None = None,
        value_col: str | None = None) -> IndicatorSpec:
    return IndicatorSpec("ema", window, out_col or f"ema_{window}", value_col)


def rsi(window: int, out_col: str | None = None,
        value_col: str | None = None) -> IndicatorSpec:
    return IndicatorSpec("rsi", window, out_col or f"rsi_{window}", value_col)


def macd(out_col: str = "macd", value_col: str | None = None) -> IndicatorSpec:
    return IndicatorSpec("macd", None, out_col, value_col)


_KERNELS = {
    "sma": lambda v, spec: sma_kernel(v, spec.window),
    "ema": lambda v, spec: ema_kernel(v, spec.window),
    "rsi": lambda v, spec: rsi_kernel(v, spec.window),
    "macd": lambda v, spec: macd_kernel(v),
}


def with_indicators(
    df: DataFrame,
    value_col: str,
    order_by: Sequence[str],
    partition_by: Sequence[str],
    specs: Iterable[IndicatorSpec],
    method: str = "partition",
    max_rows_per_task: int | None = None,
    warn_context: str | None = None,
) -> DataFrame:
    """Append indicator columns computed per partition in arrival order.

    ``order_by`` must uniquely order rows within a partition (add a
    tiebreaker column if the primary sort key can repeat) — otherwise
    the recursive indicators are not well-defined.

    ``method``:

    - ``"partition"`` (default): one ``plans.series.fold_series`` pass —
      every series of a shuffle partition folded in one Python call.
      Memory: O(shuffle partition) in the Python worker.
    - ``"group"``: classic ``groupBy().applyInPandas`` — one call per
      series; memory O(series); better for few huge series.

    ``max_rows_per_task``: hot-key series splitting. Any series longer
    than this routes through the segmented bucketed-carry path
    (``segmented.with_indicators_segmented``): the series is cut into
    ~``max_rows_per_task``-row time buckets on the first order column
    (distributed ``percentile_approx`` boundaries) and computed in
    three parallel passes, so a single symbol with 10^9 ticks is no
    longer one task. Series at or under the cap keep the exact serial
    kernels. Segmented outputs are mathematically exact but may differ
    from the serial kernels by ~1 ulp per bucket boundary (affine
    recurrence reassociation — see ``segmented.py``); leave this OFF
    when bit-identical output matters. Requires a numeric first
    ``order_by`` column and NULL-free values in hot series.
    """
    specs = list(specs)
    if not specs:
        return df
    seen = set()
    for s in specs:
        if s.out_col in seen or s.out_col in df.columns:
            raise ValueError(f"duplicate output column: {s.out_col}")
        seen.add(s.out_col)
    order_by = list(order_by)
    partition_by = list(partition_by)
    if not order_by:
        raise ValueError("order_by is required: indicator semantics are "
                         "order-dependent (SURVEY.md §7 hard part 2)")

    out_schema = StructType(
        df.schema.fields
        + [StructField(s.out_col, DoubleType(), True) for s in specs]
    )

    if max_rows_per_task is not None:
        return _split_hot_series(
            df, value_col, order_by, partition_by, specs, method,
            max_rows_per_task,
        )

    if not partition_by:
        warnings.warn(
            "with_indicators without partition_by computes a single global "
            "series on one task — fine for small data, a bottleneck at "
            "scale (pass max_rows_per_task to split it)"
            + (f" [triggered by: {warn_context}]" if warn_context else ""),
            stacklevel=2,
        )

    if method == "group" or not partition_by:
        def compute(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(order_by, kind="mergesort",
                                  ignore_index=True)
            for s in specs:
                pdf[s.out_col] = _KERNELS[s.kind](
                    pdf[s.value_col or value_col], s
                )
            return pdf

        if partition_by:
            return df.groupBy(*partition_by).applyInPandas(compute,
                                                           out_schema)
        return (
            df.withColumn("__g", F.lit(1))
            .groupBy("__g")
            .applyInPandas(lambda pdf: compute(pdf.drop(columns="__g")),
                           out_schema)
        )
    if method != "partition":
        raise ValueError("method must be 'partition' or 'group'")

    value_cols = list(dict.fromkeys(s.value_col or value_col for s in specs))

    def fold(mats, lens):
        # Null-skipping: each series' non-null values fold as one
        # compressed series and the results land back on their rows
        # (NaN pad cells past a series' end are skipped the same way).
        # The fold2d kernels keep each element's expression tree, so the
        # results match method="group" bit for bit.
        nonnull = {}
        for c, M in mats.items():
            idx = [np.flatnonzero(~np.isnan(row)) for row in M]
            C, clens = kernels.pack_segments(
                [row[ix] for row, ix in zip(M, idx)])
            nonnull[c] = (C, clens, idx)
        outs = {}
        for s in specs:
            M = mats[s.value_col or value_col]
            if s.kind == "sma":
                outs[s.out_col] = np.array(
                    [sma_kernel(row, s.window) for row in M])
                continue
            C, clens, idx = nonnull[s.value_col or value_col]
            if s.kind == "ema":
                Rc = kernels.ema_fold2d(C, 2.0 / (float(s.window) + 1.0))
            elif s.kind == "macd":
                Rc = (kernels.ema_fold2d(C, 2.0 / 13.0)
                      - kernels.ema_fold2d(C, 2.0 / 27.0))
            else:
                Rc = kernels.rsi_fold2d(C, clens, s.window)
            R = np.full(M.shape, np.nan)
            for g, ix in enumerate(idx):
                R[g, ix] = Rc[g, : ix.shape[0]]
            outs[s.out_col] = R
        return outs

    return fold_series(df, partition_by, order_by, value_cols,
                       [s.out_col for s in specs], fold)


def _split_hot_series(
    df: DataFrame,
    value_col: str,
    order_by: list[str],
    partition_by: list[str],
    specs: list[IndicatorSpec],
    method: str,
    max_rows_per_task: int,
) -> DataFrame:
    """Route series longer than ``max_rows_per_task`` through the
    segmented bucketed-carry path; everything else keeps the serial
    kernels. Scale shape:

    - per-series row counts: one map-side-combined groupBy — tiny output
      (one row per series), and the over-cap key list is by definition
      FEW rows (hot keys), so it broadcasts into semi/anti joins — the
      big table is never shuffled for the split decision;
    - bucket boundaries for hot series: distributed
      ``percentile_approx`` over the hot rows only, one array per hot
      series, broadcast back;
    - the two paths union; each sees one shuffle on its own keys.

    One driver scalar (the max hot-series length) picks the global
    bucket count; no row data reaches the driver.
    """
    from .segmented import with_indicators_segmented  # circular-safe

    for s in specs:
        if s.value_col is not None and s.value_col != value_col:
            raise ValueError(
                "max_rows_per_task splitting supports a single value "
                "column (spec.value_col overrides not implemented)"
            )
    min_rows = 4 * max(
        (s.window for s in specs if s.window is not None), default=27
    )
    if max_rows_per_task < max(min_rows, 108):
        # RSI/Wilder seeds and the MACD 26-EMA must fit comfortably
        # inside the first bucket, with headroom for approx boundaries.
        raise ValueError(
            f"max_rows_per_task must be >= {max(min_rows, 108)} for these "
            "specs (the seed fold may not span a bucket boundary)"
        )

    keys = list(partition_by)
    drop_cols: list[str] = ["__bucket"]
    if not keys:
        df = df.withColumn("__series", F.lit(1))
        keys = ["__series"]
        drop_cols.append("__series")

    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
    hot_keys = counts.filter(F.col("__n") > max_rows_per_task)
    max_n = hot_keys.agg(F.max("__n")).first()[0]

    base_cols = [c for c in df.columns if c not in ("__series",)]
    out_cols = base_cols + [s.out_col for s in specs]

    if max_n is None:
        # No hot series: plain path (common case — zero overhead beyond
        # the counts agg).
        out = with_indicators(
            df.drop("__series") if "__series" in drop_cols else df,
            value_col, order_by, partition_by, specs, method,
        )
        return out.select(*out_cols)

    hot = F.broadcast(hot_keys.select(*keys))
    cold_df = df.join(hot, keys, "left_anti")
    hot_df = df.join(hot, keys, "left_semi")

    import math

    n_buckets = math.ceil(max_n / max_rows_per_task)
    ord0 = order_by[0]
    probs = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    bounds = hot_df.groupBy(*keys).agg(
        F.expr(
            f"percentile_approx({ord0}, array({probs}), 10000)"
        ).alias("__bounds")
    )
    bucketed = (
        hot_df.join(F.broadcast(bounds), keys)
        # Monotone in ord0 by construction: the bucket is the number of
        # boundaries at or below the row's order value.
        .withColumn(
            "__bucket",
            F.expr(f"size(filter(__bounds, x -> x <= {ord0}))")
            .cast("long"),
        )
        .drop("__bounds")
    )
    hot_out = with_indicators_segmented(
        bucketed, value_col, order_by, keys, "__bucket", specs
    ).drop(*drop_cols)

    cold_out = with_indicators(
        cold_df.drop("__series") if "__series" in drop_cols else cold_df,
        value_col, order_by, partition_by, specs, method,
    )
    return cold_out.select(*out_cols).unionByName(hot_out.select(*out_cols))


def sma_native(
    df: DataFrame,
    value_col: str,
    order_by: Sequence[str | Column],
    partition_by: Sequence[str],
    window: int,
    out_col: str | None = None,
) -> DataFrame:
    """Catalyst-native SMA: windowed avg gated by windowed count.

    Bit-for-bit identical to the reference semantics whenever
    ``value_col`` contains no NULLs; stays entirely in the JVM
    (whole-stage codegen, no Python workers).
    """
    out_col = out_col or f"sma_{window}"
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(-(window - 1), 0)
    )
    return df.withColumn(
        out_col,
        F.when(
            F.count(value_col).over(w) >= window, F.avg(value_col).over(w)
        ),
    )
