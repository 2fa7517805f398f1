"""Shared series configs, rounding conventions, row windows and the
partition-packed series fold (``fold_series``) for query/oracle pairs.

Every declared query is built twice from the same config: once as a
PySpark DataFrame plan and once as ANSI SQL for the DuckDB oracle, so
the two can never drift structurally. Doubles are rounded to
``ROUND_DP`` decimals on *both* sides; the recursive indicator math is
written with identical floating-point expression trees on both sides
(see ``functions/kernels.py``), so rounded outputs match exactly.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Mapping, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..functions.kernels import pack_segments

ROUND_DP = 4


def round_null(col: Column, dp: int = ROUND_DP) -> Column:
    """Round, mapping NaN (pandas null marker) to SQL NULL."""
    return F.when(~F.isnan(col), F.round(col, dp))


def round_portable(col: Column, dp: int = ROUND_DP) -> Column:
    """Engine-portable fractional rounding: scale, round at 0 dp,
    unscale. ``round(x, dp)`` itself can differ between engines near
    .5*10^-dp boundaries (DuckDB rounds the scaled double, Spark
    rounds the exact decimal of x via BigDecimal), while 0-dp rounding
    of the SAME double is identical everywhere. Pair with
    ``round_portable_duck`` on the oracle side.

    The trailing ``+ 0.0`` normalizes signed zero: DuckDB's C
    ``round`` preserves the sign of a tiny negative (−0.0) while
    Spark's BigDecimal round yields +0.0, and value hashes distinguish
    the two. ``−0.0 + 0.0 == +0.0`` in IEEE 754, so both engines emit
    the same bit pattern for every zero."""
    scale = float(10 ** dp)
    return F.round(col * scale) / scale + F.lit(0.0)


def round_portable_duck(expr: str, dp: int = ROUND_DP) -> str:
    scale = float(10 ** dp)
    return f"round(({expr}) * {scale}) / {scale} + 0.0"


def row_window(keys: Sequence[str], order: Sequence[str]) -> WindowSpec:
    """Window partitioned by ``keys``, ordered ascending by ``order``."""
    return Window.partitionBy(*keys).orderBy(
        *[F.col(c).asc() for c in order])


def row_frame(keys: Sequence[str], order: Sequence[str],
              n: int) -> WindowSpec:
    """The last ``n`` rows (current row included) of ``row_window``."""
    return row_window(keys, order).rowsBetween(-(n - 1), 0)


def fold_series(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    value_cols: Sequence[str],
    out_cols: Sequence[str],
    fold: Callable[[Mapping[str, np.ndarray], np.ndarray],
                   Mapping[str, np.ndarray]],
) -> DataFrame:
    """Append ``out_cols`` (DOUBLE, NaN allowed) from a fold over every
    series of ``df``, the Spark form of the reference's whole-partition
    window UDFs.

    One shuffle on ``keys``, a JVM-side sort within partitions by
    (keys, order), then one ``mapInPandas`` call per shuffle partition.
    There the rows of each series are contiguous; every ``value_cols``
    entry is packed into a NaN-padded (series x time) float64 matrix
    and ``fold(mats, lens)`` runs ONCE for the whole partition, so
    thousands of short series cost one Arrow round-trip, not one Python
    call each. ``mats`` maps each value column to its matrix, ``lens``
    holds the series lengths, and the fold returns one matrix of the
    same shape per out column; cells past ``lens[g]`` are ignored.
    Memory is O(shuffle partition) in the Python worker.
    """
    keys, order = list(keys), list(order)
    value_cols, out_cols = list(value_cols), list(out_cols)
    schema = StructType(
        df.schema.fields
        + [StructField(c, DoubleType(), True) for c in out_cols]
    )

    def run(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        if len(pdf) == 0:
            return
        # NULL keys form one series, as in groupBy: pandas NaN != NaN,
        # so a plain ne(shift) would start a series at every NULL row.
        k = pdf[keys]
        shifted = k.shift()
        changed = (
            (k.ne(shifted) & ~(k.isna() & shifted.isna()))
            .any(axis=1)
            .to_numpy()
        )
        changed[0] = True
        starts = np.flatnonzero(changed)
        ends = np.append(starts[1:], len(pdf))
        lens = ends - starts
        mats = {}
        for c in value_cols:
            v = pdf[c].to_numpy(dtype=np.float64, na_value=np.nan)
            mats[c] = pack_segments([v[s:e] for s, e in zip(starts, ends)])[0]
        outs = fold(mats, lens)
        for c in out_cols:
            full = np.full(len(pdf), np.nan)
            R = outs[c]
            for g, (s, e) in enumerate(zip(starts, ends)):
                full[s:e] = R[g, : e - s]
            pdf[c] = full
        yield pdf

    return (
        df.repartition(*keys)
        .sortWithinPartitions(*keys, *order)
        .mapInPandas(run, schema)
    )


@dataclass(frozen=True)
class SeriesCfg:
    """A (partition key, unique order, value) time-series view of a table."""

    table: str
    keys: tuple[str, ...]
    order: tuple[str, ...]  # must be unique within a key partition
    value: str
    out_cols: tuple[str, ...]  # identifying columns carried to the output


EVENTS_SERIES = SeriesCfg(
    table="events",
    keys=("user_id",),
    order=("ts", "event_id"),
    value="value",
    out_cols=("user_id", "event_id", "value"),
)

# Long per-key series (600 rows/supplier at sf0.001, 6000 at sf0.01):
# the right length for the reference's 20/50 crossover windows.
LINEITEM_SUPPLIER_SERIES = SeriesCfg(
    table="lineitem",
    keys=("l_suppkey",),
    # (shipdate, orderkey, linenumber) is NOT unique in the synthetic
    # data (sf0.1 has a duplicate triple with different values); the
    # value column as final tiebreaker makes the recursive-indicator
    # order deterministic — residual ties would be full-duplicate rows,
    # which cannot affect a fold.
    order=("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"),
    value="l_extendedprice",
    out_cols=("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice"),
)

ORDERS_SERIES = SeriesCfg(
    table="orders",
    keys=("o_custkey",),
    order=("o_orderdate", "o_orderkey"),
    value="o_totalprice",
    out_cols=("o_custkey", "o_orderkey", "o_totalprice"),
)
