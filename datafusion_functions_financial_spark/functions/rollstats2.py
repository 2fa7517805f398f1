"""Second tier of rolling statistics: beta, Sharpe ratio, central
moments (skewness/kurtosis), and OLS trend slope.

Extends ``functions/rollstats.py`` (Bollinger/volatility/drawdown/
correlation) with the risk/shape statistics a factor pipeline computes
per instrument. Same scale shape: pure Catalyst ROWS-frame windows,
one hash shuffle on the series key, no Python.

Determinism notes per stat:

- beta/Sharpe reuse ``covar_samp``/``stddev_samp``/``avg`` window
  aggregates (ulp differences vs DuckDB absorbed by
  ``round_portable`` — the exposure every green rolling op has);
- skewness/kurtosis need CENTERED moments; the raw-power-sum identity
  (m3 from E[x^3], E[x^2], E[x]) catastrophically cancels at price
  magnitudes (~5e4 → x^4 ~ 6e18, past double precision), so the frame
  is folded as an ordered array in two passes (mean, then centered
  powers) — sequentially identical to the oracle's ``list_reduce``,
  like ``technical2.cci``;
- the OLS slope denominator (n*Sxx - Sx²) is kept in BIGINT (row
  positions are integers), so only the numerator carries float sums.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.series import (
    round_portable, round_portable_duck, row_frame, row_window,
)
from ..sources.tables import load

__all__ = ["rolling_beta", "rolling_sharpe", "rolling_moments",
           "rolling_ols_slope", "time_since_high", "return_autocorr"]

SHARPE_ANNUALIZATION = 252.0


def rolling_beta(df: DataFrame, y_col: str, x_col: str,
                 keys: Sequence[str], order: Sequence[str],
                 n: int = 20) -> DataFrame:
    """Rolling OLS beta of ``y`` on ``x`` over the last ``n`` rows:
    ``(n*Sxy - Sx*Sy) / (n*Sxx - Sx²)``. NULL until the frame is full
    and when ``x`` is constant within the frame.

    Built from ordered array folds rather than ``covar_samp`` /
    ``var_samp`` windows: the two engines' moment aggregates differ by
    an ulp (different update formulas), which flipped a .5 rounding
    boundary at sf0.001 — sequential folds over the same frame order
    are bit-identical on both sides."""
    w = row_frame(keys, order, n)
    with_arr = (
        df.withColumn("__xa", F.collect_list(F.col(x_col)).over(w))
        .withColumn("__ya", F.collect_list(F.col(y_col)).over(w))
    )
    nf = float(n)
    # Each fold materializes ONCE as a column — repeating the
    # aggregate() expression in num/den would re-run the fold per
    # reference (interpreted HOFs, no CSE).
    staged = (
        with_arr
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
    )
    den = f"({nf!r} * __sxx - __sx * __sx)"
    num = f"({nf!r} * __sxy - __sx * __sy)"
    expr = (f"CASE WHEN size(__xa) >= {n} AND {den} != 0.0 "
            f"THEN {num} / {den} END")
    return staged.withColumn(
        "beta", round_portable(F.expr(expr))
    ).drop("__xa", "__ya", "__sx", "__sy", "__sxy", "__sxx")


def rolling_sharpe(df: DataFrame, value_col: str, keys: Sequence[str],
                   order: Sequence[str], n: int = 20) -> DataFrame:
    """Rolling Sharpe ratio of simple returns ``p / lag(p) - 1``:
    ``sqrt(252) * mean_n(ret) / stddev_samp_n(ret)`` (zero risk-free
    rate). Returns are NULL-guarded for non-positive prices; NULL until
    ``n`` returns fill the frame or when returns are constant."""
    wrow = row_window(keys, order)
    prev = F.lag(value_col, 1).over(wrow)
    ok = (F.col(value_col) > 0) & (prev > 0)
    ret = F.when(ok, F.col(value_col) / prev - F.lit(1.0))
    with_r = df.withColumn("__ret", ret)
    w = row_frame(keys, order, n)
    full = F.count(F.col("__ret")).over(w) >= n
    sharpe = (
        F.lit(float(SHARPE_ANNUALIZATION) ** 0.5)
        * F.avg("__ret").over(w)
        / F.nullif(F.stddev_samp(F.col("__ret")).over(w), F.lit(0.0))
    )
    return with_r.withColumn(
        "sharpe", round_portable(F.when(full, sharpe))
    ).drop("__ret")


def rolling_moments(df: DataFrame, value_col: str, keys: Sequence[str],
                    order: Sequence[str], n: int = 20) -> DataFrame:
    """Rolling population skewness (g1 = m3 / m2^1.5) and excess
    kurtosis (g2 = m4 / m2² − 3) over the last ``n`` rows.

    Central moments via an ordered two-pass array fold (see module
    docstring for why raw power sums are numerically unusable at price
    magnitudes). NULL until the frame is full and when the frame is
    flat (m2 = 0)."""
    w = row_frame(keys, order, n)
    with_arr = df.withColumn(
        "__arr", F.collect_list(F.col(value_col)).over(w))
    nf = float(n)
    # Materialize mean and each central moment once (columns), so no
    # fold re-runs inside another fold's lambda or a repeated guard —
    # O(n) per row instead of O(n²). Deterministic folds: the values
    # are bit-identical to the inlined form (and to the oracle's).
    staged = (
        with_arr
        .withColumn("__m", F.expr(
            f"aggregate(__arr, 0D, (a, x) -> a + x) / {nf!r}"))
        .withColumn("__m2", F.expr(
            f"aggregate(__arr, 0D, (a, x) -> a + pow(x - __m, 2))"
            f" / {nf!r}"))
        .withColumn("__m3", F.expr(
            f"aggregate(__arr, 0D, (a, x) -> a + pow(x - __m, 3))"
            f" / {nf!r}"))
        .withColumn("__m4", F.expr(
            f"aggregate(__arr, 0D, (a, x) -> a + pow(x - __m, 4))"
            f" / {nf!r}"))
    )
    guard = f"size(__arr) >= {n} AND __m2 != 0.0"
    skew = f"CASE WHEN {guard} THEN __m3 / pow(__m2, 1.5) END"
    kurt = f"CASE WHEN {guard} THEN __m4 / pow(__m2, 2.0) - 3.0 END"
    return (
        staged
        .withColumn("roll_skew", round_portable(F.expr(skew)))
        .withColumn("roll_kurt", round_portable(F.expr(kurt)))
        .drop("__arr", "__m", "__m2", "__m3", "__m4")
    )


def rolling_ols_slope(df: DataFrame, value_col: str,
                      keys: Sequence[str], order: Sequence[str],
                      n: int = 20) -> DataFrame:
    """Rolling OLS trend slope of ``value`` against row position:
    ``(n*Sxy - Sx*Sy) / (n*Sxx - Sx²)`` over the last ``n`` rows, with
    x = ROW_NUMBER within the key (any affine x gives the same slope).
    The denominator is integer-exact BIGINT; NULL until the frame is
    full (the full-frame denominator n²(n²−1)/12 is never zero for
    n ≥ 2)."""
    if n < 2:
        raise ValueError("rolling_ols_slope needs n >= 2")
    wrow = row_window(keys, order)
    with_rn = df.withColumn(
        "__rn", F.row_number().over(wrow).cast("bigint"))
    w = row_frame(keys, order, n)
    full = F.count(F.lit(1)).over(w) >= n
    sx = F.sum("__rn").over(w)
    sy = F.sum(value_col).over(w)
    sxy = F.sum(F.col("__rn").cast("double") * F.col(value_col)).over(w)
    sxx = F.sum(F.col("__rn") * F.col("__rn")).over(w)
    den = (F.lit(n).cast("bigint") * sxx - sx * sx).cast("double")
    num = F.lit(float(n)) * sxy - sx.cast("double") * sy
    return with_rn.withColumn(
        "trend_slope", round_portable(F.when(full, num / den))
    ).drop("__rn")


def time_since_high(df: DataFrame, value_col: str,
                    keys: Sequence[str],
                    order: Sequence[str]) -> DataFrame:
    """Rows since the running maximum (the drawdown-duration
    companion to ``rollstats.drawdown``): 0 whenever the current row
    IS the latest peak; ties resolve to the most recent peak.

    Two prefix windows over one partition order (Catalyst reuses the
    single Exchange+Sort): the running max, then the last row number
    where the value equalled it. The equality compares the same stored
    double against itself — exact on both engines."""
    wrow = row_window(keys, order)
    prefix = wrow.rowsBetween(Window.unboundedPreceding, 0)
    with_rn = df.withColumn(
        "__rn", F.row_number().over(wrow).cast("bigint"))
    cummax = F.max(value_col).over(prefix)
    with_cm = with_rn.withColumn("__cm", cummax)
    peak_rn = F.max(
        F.when(F.col(value_col) == F.col("__cm"), F.col("__rn"))
    ).over(prefix)
    return with_cm.withColumn(
        "bars_since_high", (F.col("__rn") - peak_rn).cast("bigint")
    ).drop("__rn", "__cm")


_DP_AC = 8
_AC_SCALE = float(10 ** _DP_AC)


def return_autocorr(df: DataFrame, value_col: str,
                    keys: Sequence[str], order: Sequence[str],
                    lag: int = 1) -> DataFrame:
    """One row per key: lag-``lag`` Pearson autocorrelation of simple
    returns — the classic mean-reversion/momentum diagnostic.

    Returns are NULL-guarded for non-positive prices; pairs where
    either side is NULL are dropped. The five cross-sums are per-term
    quantized to BIGINT (``_DP_AC`` decimals) before the group
    reduction, so the unordered aggregation is exact integer
    arithmetic (SCALING.md contribution rule); the final correlation
    is one identical double expression on both engines. NULL when
    fewer than 3 pairs or either variance is zero."""
    wrow = row_window(keys, order)
    prev = F.lag(value_col, 1).over(wrow)
    ok = (F.col(value_col) > 0) & (prev > 0)
    ret = F.when(ok, F.col(value_col) / prev - F.lit(1.0))
    with_r = df.withColumn("__y", ret)
    with_xy = with_r.withColumn(
        "__x", F.lag("__y", lag).over(wrow)
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())

    def qcol(expr: str) -> F.Column:
        return F.expr(
            f"CAST(round(({expr}) * {_AC_SCALE!r}) AS BIGINT)")

    sums = with_xy.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qcol("__x")).alias("sx"),
        F.sum(qcol("__y")).alias("sy"),
        F.sum(qcol("__x * __y")).alias("sxy"),
        F.sum(qcol("__x * __x")).alias("sxx"),
        F.sum(qcol("__y * __y")).alias("syy"),
    )
    s = f"{_AC_SCALE!r}"
    num = (f"(CAST(n AS DOUBLE) * (sxy / {s}) "
           f"- (sx / {s}) * (sy / {s}))")
    denx = (f"(CAST(n AS DOUBLE) * (sxx / {s}) "
            f"- (sx / {s}) * (sx / {s}))")
    deny = (f"(CAST(n AS DOUBLE) * (syy / {s}) "
            f"- (sy / {s}) * (sy / {s}))")
    return sums.select(
        *keys,
        F.col("n").alias("n_pairs"),
        round_portable(F.expr(
            f"CASE WHEN n >= 3 AND {denx} > 0.0 AND {deny} > 0.0 "
            f"THEN {num} / sqrt({denx} * {deny}) END"
        )).alias("autocorr"),
    )


# --------------------------------------------------------------------------
# Gate queries (orders: o_custkey series; lineitem: supplier series)
# --------------------------------------------------------------------------

_BETA_N = 8
_SHARPE_N = 5
_MOM_N = 5
_OLS_N = 5

_ORDERS_W = "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"
_LINEITEM_W = ("PARTITION BY l_suppkey "
               "ORDER BY l_shipdate, l_orderkey, l_linenumber, "
               "l_extendedprice")


def _q_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = rolling_beta(load(spark, sf_dir, "lineitem"),
                       "l_extendedprice", "l_quantity", ["l_suppkey"],
                       ["l_shipdate", "l_orderkey", "l_linenumber",
                        "l_extendedprice"], n=_BETA_N)
    return out.select("l_suppkey", "l_orderkey", "l_linenumber", "beta")


_BNF = float(_BETA_N)
_D_SX = ("list_reduce(list_concat([CAST(0 AS DOUBLE)], xa), "
         "(a, v) -> a + v)")
_D_SY = ("list_reduce(list_concat([CAST(0 AS DOUBLE)], ya), "
         "(a, v) -> a + v)")
_D_SXY = ("list_reduce(list_concat([CAST(0 AS DOUBLE)], "
          "list_transform(range(1, len(xa) + 1), i -> xa[i] * ya[i])), "
          "(a, v) -> a + v)")
_D_SXX = ("list_reduce(list_concat([CAST(0 AS DOUBLE)], "
          "list_transform(range(1, len(xa) + 1), i -> xa[i] * xa[i])), "
          "(a, v) -> a + v)")
_D_BDEN = f"({_BNF!r} * ({_D_SXX}) - ({_D_SX}) * ({_D_SX}))"
_D_BNUM = f"({_BNF!r} * ({_D_SXY}) - ({_D_SX}) * ({_D_SY}))"

_ORACLE_BETA = f"""
WITH t AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         list(l_quantity) OVER w AS xa,
         list(l_extendedprice) OVER w AS ya
  FROM lineitem
  WINDOW w AS ({_LINEITEM_W}
               ROWS BETWEEN {_BETA_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT l_suppkey, l_orderkey, l_linenumber,
  {round_portable_duck(
      f"CASE WHEN len(xa) >= {_BETA_N} AND {_D_BDEN} != 0.0 "
      f"THEN {_D_BNUM} / {_D_BDEN} END")} AS beta
FROM t
"""


def _q_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = rolling_sharpe(load(spark, sf_dir, "orders"), "o_totalprice",
                         ["o_custkey"], ["o_orderdate", "o_orderkey"],
                         n=_SHARPE_N)
    return out.select("o_custkey", "o_orderkey", "sharpe")


_SQRT_ANN = float(SHARPE_ANNUALIZATION) ** 0.5

_ORACLE_SHARPE = f"""
WITH r AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         CASE WHEN o_totalprice > 0
               AND lag(o_totalprice) OVER ({_ORDERS_W}) > 0
              THEN o_totalprice
                   / lag(o_totalprice) OVER ({_ORDERS_W}) - 1.0
         END AS ret
  FROM orders
), t AS (
  SELECT o_custkey, o_orderkey,
         avg(ret) OVER w AS m, stddev_samp(ret) OVER w AS sd,
         count(ret) OVER w AS cnt
  FROM r
  WINDOW w AS ({_ORDERS_W}
               ROWS BETWEEN {_SHARPE_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT o_custkey, o_orderkey,
  {round_portable_duck(
      f"CASE WHEN cnt >= {_SHARPE_N} "
      f"THEN {_SQRT_ANN!r} * m / nullif(sd, 0.0) END")} AS sharpe
FROM t
"""


def _q_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = rolling_moments(load(spark, sf_dir, "orders"), "o_totalprice",
                          ["o_custkey"], ["o_orderdate", "o_orderkey"],
                          n=_MOM_N)
    return out.select("o_custkey", "o_orderkey", "o_totalprice",
                      "roll_skew", "roll_kurt")


_NF = float(_MOM_N)
_D_MEAN = ("list_reduce(list_concat([CAST(0 AS DOUBLE)], arr), "
           f"(a, x) -> a + x) / {_NF!r}")
_D_M2 = ("list_reduce(list_concat([CAST(0 AS DOUBLE)], "
         f"list_transform(arr, x -> pow(x - ({_D_MEAN}), 2))), "
         f"(a, x) -> a + x) / {_NF!r}")
_D_M3 = ("list_reduce(list_concat([CAST(0 AS DOUBLE)], "
         f"list_transform(arr, x -> pow(x - ({_D_MEAN}), 3))), "
         f"(a, x) -> a + x) / {_NF!r}")
_D_M4 = ("list_reduce(list_concat([CAST(0 AS DOUBLE)], "
         f"list_transform(arr, x -> pow(x - ({_D_MEAN}), 4))), "
         f"(a, x) -> a + x) / {_NF!r}")
_D_GUARD = f"len(arr) >= {_MOM_N} AND ({_D_M2}) != 0.0"

_ORACLE_MOMENTS = f"""
WITH t AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         list(o_totalprice) OVER w AS arr
  FROM orders
  WINDOW w AS ({_ORDERS_W}
               ROWS BETWEEN {_MOM_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT o_custkey, o_orderkey, o_totalprice,
  {round_portable_duck(
      f"CASE WHEN {_D_GUARD} "
      f"THEN ({_D_M3}) / pow({_D_M2}, 1.5) END")} AS roll_skew,
  {round_portable_duck(
      f"CASE WHEN {_D_GUARD} "
      f"THEN ({_D_M4}) / pow({_D_M2}, 2.0) - 3.0 END")} AS roll_kurt
FROM t
"""


def _q_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = rolling_ols_slope(load(spark, sf_dir, "orders"),
                            "o_totalprice", ["o_custkey"],
                            ["o_orderdate", "o_orderkey"], n=_OLS_N)
    return out.select("o_custkey", "o_orderkey", "trend_slope")


_ORACLE_OLS = f"""
WITH r AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         CAST(row_number() OVER ({_ORDERS_W}) AS BIGINT) AS rn
  FROM orders
), t AS (
  SELECT o_custkey, o_orderkey,
         CAST(sum(rn) OVER w AS BIGINT) AS sx,
         sum(o_totalprice) OVER w AS sy,
         sum(CAST(rn AS DOUBLE) * o_totalprice) OVER w AS sxy,
         CAST(sum(rn * rn) OVER w AS BIGINT) AS sxx,
         count(*) OVER w AS cnt
  FROM r
  WINDOW w AS ({_ORDERS_W}
               ROWS BETWEEN {_OLS_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT o_custkey, o_orderkey,
  {round_portable_duck(
      f"CASE WHEN cnt >= {_OLS_N} "
      f"THEN ({float(_OLS_N)!r} * sxy - CAST(sx AS DOUBLE) * sy) "
      f"/ CAST({_OLS_N} * sxx - sx * sx AS DOUBLE) END")}
    AS trend_slope
FROM t
"""


def _q_tsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = time_since_high(load(spark, sf_dir, "orders"), "o_totalprice",
                          ["o_custkey"], ["o_orderdate", "o_orderkey"])
    return out.select("o_custkey", "o_orderkey", "o_totalprice",
                      "bars_since_high")


_ORACLE_TSH = f"""
WITH r AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         CAST(row_number() OVER ({_ORDERS_W}) AS BIGINT) AS rn,
         max(o_totalprice) OVER ({_ORDERS_W}
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
  FROM orders
)
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(rn - max(CASE WHEN o_totalprice = cm THEN rn END)
            OVER ({_ORDERS_W}
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS bars_since_high
FROM r
"""


_AC_LAG = 1


def _q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return return_autocorr(
        load(spark, sf_dir, "lineitem"), "l_extendedprice",
        ["l_suppkey"],
        ["l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"],
        lag=_AC_LAG)


_ACS = f"{_AC_SCALE!r}"
_AC_NUM = (f"(CAST(n AS DOUBLE) * (sxy / {_ACS}) "
           f"- (sx / {_ACS}) * (sy / {_ACS}))")
_AC_DENX = (f"(CAST(n AS DOUBLE) * (sxx / {_ACS}) "
            f"- (sx / {_ACS}) * (sx / {_ACS}))")
_AC_DENY = (f"(CAST(n AS DOUBLE) * (syy / {_ACS}) "
            f"- (sy / {_ACS}) * (sy / {_ACS}))")

_ORACLE_AUTOCORR = f"""
WITH r AS (
  SELECT l_suppkey,
         CASE WHEN l_extendedprice > 0
               AND lag(l_extendedprice) OVER ({_LINEITEM_W}) > 0
              THEN l_extendedprice
                   / lag(l_extendedprice) OVER ({_LINEITEM_W}) - 1.0
         END AS y,
         l_shipdate, l_orderkey, l_linenumber, l_extendedprice
  FROM lineitem
), p AS (
  SELECT l_suppkey, y, lag(y, {_AC_LAG}) OVER ({_LINEITEM_W}) AS x
  FROM r
), q AS (
  SELECT l_suppkey,
         CAST(round(x * {_ACS}) AS BIGINT) AS qx,
         CAST(round(y * {_ACS}) AS BIGINT) AS qy,
         CAST(round(x * y * {_ACS}) AS BIGINT) AS qxy,
         CAST(round(x * x * {_ACS}) AS BIGINT) AS qxx,
         CAST(round(y * y * {_ACS}) AS BIGINT) AS qyy
  FROM p WHERE x IS NOT NULL AND y IS NOT NULL
), s AS (
  SELECT l_suppkey, count(*) AS n,
         CAST(sum(qx) AS BIGINT) AS sx, CAST(sum(qy) AS BIGINT) AS sy,
         CAST(sum(qxy) AS BIGINT) AS sxy,
         CAST(sum(qxx) AS BIGINT) AS sxx,
         CAST(sum(qyy) AS BIGINT) AS syy
  FROM q GROUP BY 1
)
SELECT l_suppkey, CAST(n AS BIGINT) AS n_pairs,
  {round_portable_duck(
      f"CASE WHEN n >= 3 AND {_AC_DENX} > 0.0 AND {_AC_DENY} > 0.0 "
      f"THEN {_AC_NUM} / sqrt({_AC_DENX} * {_AC_DENY}) END")}
    AS autocorr
FROM s
"""


QUERIES: dict = {
    "roll_beta_lineitem": (_q_beta, _ORACLE_BETA),
    "roll_sharpe_orders": (_q_sharpe, _ORACLE_SHARPE),
    "roll_moments_orders": (_q_moments, _ORACLE_MOMENTS),
    "roll_ols_slope_orders": (_q_ols, _ORACLE_OLS),
    "roll_time_since_high_orders": (_q_tsh, _ORACLE_TSH),
    "ret_autocorr_lineitem": (_q_autocorr, _ORACLE_AUTOCORR),
}
