"""Shared series configs + rounding conventions for query/oracle pairs.

Every declared query is built twice from the same config: once as a
PySpark DataFrame plan and once as ANSI SQL for the DuckDB oracle, so
the two can never drift structurally. Doubles are rounded to
``ROUND_DP`` decimals on *both* sides; the recursive indicator math is
written with identical floating-point expression trees on both sides
(see ``functions/kernels.py``), so rounded outputs match exactly.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F

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
