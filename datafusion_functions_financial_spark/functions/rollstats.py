"""Rolling statistics beyond the reference's four indicators: Bollinger
bands, rolling log-return volatility, running-max drawdown, and rolling
correlation between two series.

These extend the indicator family (reference scope:
``/root/reference/src/functions/`` implements sma/ema/rsi/macd only)
with the window statistics a quant user reaches for next. Unlike the
recursive indicators, every one of these is a *frame-local* aggregate —
expressible as a pure Catalyst window over a rows-frame, so the whole
computation stays in whole-stage codegen with exactly one shuffle (the
hash partition by key) and scales per-key like any Spark window.

Determinism across engines: frame aggregates (``stddev_samp``,
``corr``) can differ in the last ulp between runtimes, so outputs are
rounded with the portable 0-dp-scale trick (``plans/series.py``)
before comparison; the same rounding is applied in the DuckDB oracles.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.series import (
    round_portable, round_portable_duck, row_frame, row_window,
)
from ..sources.tables import load

__all__ = ["bollinger", "rolling_volatility", "drawdown", "rolling_corr"]


def bollinger(df: DataFrame, value_col: str, keys: Sequence[str],
              order: Sequence[str], n: int = 20, k: float = 2.0) -> DataFrame:
    """Bollinger bands: rolling mean ± k * rolling sample stddev.

    Emits NULL until ``n`` non-null values fill the frame (same warm-up
    convention as the ``sma`` indicator). ``order`` must be unique
    within a key partition.
    """
    w = row_frame(keys, order, n)
    full = F.count(F.col(value_col)).over(w) >= n
    mid = F.avg(F.col(value_col)).over(w)
    sd = F.stddev_samp(F.col(value_col)).over(w)
    gate = lambda c: round_portable(F.when(full, c))  # noqa: E731
    return (
        df.withColumn("boll_mid", gate(mid))
        .withColumn("boll_upper", gate(mid + F.lit(k) * sd))
        .withColumn("boll_lower", gate(mid - F.lit(k) * sd))
    )


def rolling_volatility(df: DataFrame, value_col: str, keys: Sequence[str],
                       order: Sequence[str], n: int = 20) -> DataFrame:
    """Rolling sample stddev of log returns ``ln(p / lag(p))``.

    Requires a strictly positive ``value_col``. NULL until ``n``
    returns (i.e. ``n + 1`` prices) are in the frame.
    """
    wrow = row_window(keys, order)
    ret = F.log(F.col(value_col) / F.lag(value_col, 1).over(wrow))
    with_ret = df.withColumn("__ret", ret)
    w = row_frame(keys, order, n)
    full = F.count(F.col("__ret")).over(w) >= n
    vol = F.stddev_samp(F.col("__ret")).over(w)
    return with_ret.withColumn(
        "volatility", round_portable(F.when(full, vol))
    ).drop("__ret")


def drawdown(df: DataFrame, value_col: str, keys: Sequence[str],
             order: Sequence[str]) -> DataFrame:
    """Drawdown from the running peak: ``value / max-so-far - 1`` (<= 0).

    Requires a strictly positive ``value_col``. The running max is an
    unbounded-preceding frame, which Spark evaluates incrementally —
    no per-row rescan.
    """
    w = row_window(keys, order).rowsBetween(Window.unboundedPreceding, 0)
    peak = F.max(F.col(value_col)).over(w)
    return df.withColumn(
        "drawdown", round_portable(F.col(value_col) / peak - F.lit(1.0))
    )


def rolling_corr(df: DataFrame, x_col: str, y_col: str, keys: Sequence[str],
                 order: Sequence[str], n: int = 20) -> DataFrame:
    """Rolling Pearson correlation of two columns over the last ``n`` rows.

    NULL until the frame holds ``n`` rows, and NULL when either series
    is constant within the frame.

    Built from ordered array folds — ``(n·Sxy − Sx·Sy) /
    sqrt((n·Sxx − Sx²)(n·Syy − Sy²))`` with every sum a sequential
    fold over the frame order — NOT from ``covar_samp``/
    ``stddev_samp`` windows: the engines' moment aggregates use
    different update formulas that differ in the last ulp, and at
    sf0.1 one frame crossed a .5 rounding boundary that way (the same
    failure mode fixed in ``rollstats2.rolling_beta``). The oracle
    folds the same lists in the same order, so the doubles are
    bit-equal before rounding. ``order`` must be unique within a key
    for the frame contents themselves to be deterministic.
    """
    w = row_frame(keys, order, n)
    staged = (
        df.withColumn("__xa", F.collect_list(F.col(x_col)).over(w))
        .withColumn("__ya", F.collect_list(F.col(y_col)).over(w))
        .withColumn("__sx", F.expr(
            "aggregate(__xa, 0D, (a, v) -> a + v)"))
        .withColumn("__sy", F.expr(
            "aggregate(__ya, 0D, (a, v) -> a + v)"))
        .withColumn("__sxy", F.expr(
            "aggregate(zip_with(__xa, __ya, (p, q) -> p * q), 0D, "
            "(a, v) -> a + v)"))
        .withColumn("__sxx", F.expr(
            "aggregate(zip_with(__xa, __xa, (p, q) -> p * q), 0D, "
            "(a, v) -> a + v)"))
        .withColumn("__syy", F.expr(
            "aggregate(zip_with(__ya, __ya, (p, q) -> p * q), 0D, "
            "(a, v) -> a + v)"))
    )
    nf = float(n)
    denx = f"({nf!r} * __sxx - __sx * __sx)"
    deny = f"({nf!r} * __syy - __sy * __sy)"
    num = f"({nf!r} * __sxy - __sx * __sy)"
    expr = (
        f"CASE WHEN size(__xa) >= {n} "
        f"AND {denx} > 0.0 AND {deny} > 0.0 "
        f"THEN {num} / sqrt({denx} * {deny}) END"
    )
    return staged.withColumn(
        "roll_corr", round_portable(F.expr(expr))
    ).drop("__xa", "__ya", "__sx", "__sy", "__sxy", "__sxx", "__syy")


# --------------------------------------------------------------------------
# Gate queries
# --------------------------------------------------------------------------

_BOLL_N, _BOLL_K = 5, 2.0
_VOL_N = 5
_CORR_N = 8


def _q_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = bollinger(load(spark, sf_dir, "orders"), "o_totalprice",
                    ["o_custkey"], ["o_orderdate", "o_orderkey"],
                    n=_BOLL_N, k=_BOLL_K)
    return out.select("o_custkey", "o_orderkey", "o_totalprice",
                      "boll_mid", "boll_upper", "boll_lower")


def _q_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = rolling_volatility(load(spark, sf_dir, "orders"), "o_totalprice",
                             ["o_custkey"], ["o_orderdate", "o_orderkey"],
                             n=_VOL_N)
    return out.select("o_custkey", "o_orderkey", "volatility")


def _q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = drawdown(load(spark, sf_dir, "orders"), "o_totalprice",
                   ["o_custkey"], ["o_orderdate", "o_orderkey"])
    return out.select("o_custkey", "o_orderkey", "o_totalprice", "drawdown")


def _q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 4-part order: (shipdate, orderkey, linenumber) is NOT unique at
    # sf0.1 (duplicate triple), and a non-unique ROWS-frame order makes
    # the frame contents themselves nondeterministic — the price column
    # is the standard tiebreaker (plans/series.py LINEITEM series).
    out = rolling_corr(load(spark, sf_dir, "lineitem"), "l_quantity",
                       "l_extendedprice", ["l_suppkey"],
                       ["l_shipdate", "l_orderkey", "l_linenumber",
                        "l_extendedprice"],
                       n=_CORR_N)
    return out.select("l_suppkey", "l_orderkey", "l_linenumber", "roll_corr")


_ORDERS_W = "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"

_ORACLE_BOLL = f"""
WITH t AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         avg(o_totalprice) OVER w AS mid,
         stddev_samp(o_totalprice) OVER w AS sd,
         count(o_totalprice) OVER w AS cnt
  FROM orders
  WINDOW w AS ({_ORDERS_W} ROWS BETWEEN {_BOLL_N - 1} PRECEDING
               AND CURRENT ROW)
)
SELECT o_custkey, o_orderkey, o_totalprice,
  {round_portable_duck(f"CASE WHEN cnt >= {_BOLL_N} THEN mid END")}
    AS boll_mid,
  {round_portable_duck(
      f"CASE WHEN cnt >= {_BOLL_N} THEN mid + {_BOLL_K} * sd END")}
    AS boll_upper,
  {round_portable_duck(
      f"CASE WHEN cnt >= {_BOLL_N} THEN mid - {_BOLL_K} * sd END")}
    AS boll_lower
FROM t
"""

_ORACLE_VOL = f"""
WITH r AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         ln(o_totalprice / lag(o_totalprice) OVER ({_ORDERS_W})) AS ret
  FROM orders
), t AS (
  SELECT o_custkey, o_orderkey,
         stddev_samp(ret) OVER w AS vol,
         count(ret) OVER w AS cnt
  FROM r
  WINDOW w AS ({_ORDERS_W} ROWS BETWEEN {_VOL_N - 1} PRECEDING
               AND CURRENT ROW)
)
SELECT o_custkey, o_orderkey,
  {round_portable_duck(f"CASE WHEN cnt >= {_VOL_N} THEN vol END")}
    AS volatility
FROM t
"""

_ORACLE_DD = f"""
SELECT o_custkey, o_orderkey, o_totalprice,
  {round_portable_duck(
      f"o_totalprice / max(o_totalprice) OVER ({_ORDERS_W} "
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1.0")}
    AS drawdown
FROM orders
"""

_ORACLE_CORR = f"""
WITH t AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         list(l_quantity) OVER w AS xa,
         list(l_extendedprice) OVER w AS ya
  FROM lineitem
  WINDOW w AS (PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber,
                        l_extendedprice
               ROWS BETWEEN {_CORR_N - 1} PRECEDING AND CURRENT ROW)
), s AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, len(xa) AS flen,
         list_reduce(list_concat([CAST(0 AS DOUBLE)], xa),
                     (a, v) -> a + v) AS sx,
         list_reduce(list_concat([CAST(0 AS DOUBLE)], ya),
                     (a, v) -> a + v) AS sy,
         list_reduce(list_concat([CAST(0 AS DOUBLE)],
             list_transform(range(1, len(xa) + 1),
                            i -> xa[i] * ya[i])),
                     (a, v) -> a + v) AS sxy,
         list_reduce(list_concat([CAST(0 AS DOUBLE)],
             list_transform(range(1, len(xa) + 1),
                            i -> xa[i] * xa[i])),
                     (a, v) -> a + v) AS sxx,
         list_reduce(list_concat([CAST(0 AS DOUBLE)],
             list_transform(range(1, len(ya) + 1),
                            i -> ya[i] * ya[i])),
                     (a, v) -> a + v) AS syy
  FROM t
)
SELECT l_suppkey, l_orderkey, l_linenumber,
  {round_portable_duck(
      f"CASE WHEN flen >= {_CORR_N} "
      f"AND ({float(_CORR_N)!r} * sxx - sx * sx) > 0.0 "
      f"AND ({float(_CORR_N)!r} * syy - sy * sy) > 0.0 "
      f"THEN ({float(_CORR_N)!r} * sxy - sx * sy) "
      f"/ sqrt(({float(_CORR_N)!r} * sxx - sx * sx) "
      f"* ({float(_CORR_N)!r} * syy - sy * sy)) END")}
    AS roll_corr
FROM s
"""
QUERIES: dict = {
    "roll_bollinger_orders": (_q_bollinger, _ORACLE_BOLL),
    "roll_volatility_orders": (_q_volatility, _ORACLE_VOL),
    "roll_drawdown_orders": (_q_drawdown, _ORACLE_DD),
    "roll_corr_lineitem": (_q_rolling_corr, _ORACLE_CORR),
}
