"""Portfolio-grade performance ratios #2: Calmar (return over max
drawdown), Omega (probability-weighted gain/loss ratio at a
threshold), and the information ratio of a series against a
benchmark.

Extends the ``functions/risk.py`` downside family (VaR/CVaR, Sortino,
Ulcer, drawdown episodes) with the three summary ratios a strategy
report leads with. The reference (``/root/reference/src/functions/``)
stops at sma/ema/rsi/macd; these follow the same extension path.

Determinism across engines:

- per-period returns quantize to BIGINT before any sum (the
  SCALING.md partial-agg rule), so Calmar's mean return and Omega's
  gain/loss masses are exact integers until the final division;
- the drawdown path uses only ``max`` over doubles (exact, order-free)
  and one division per row with identical expression trees;
- rows with an undefined return (first row of a key, zero previous
  value — sf0.1 events carry ``value == 0.0`` rows and ANSI Spark
  raises on division by zero) are FILTERED before aggregation so
  both engines see the same term multiset.

Plan shapes at scale: Calmar and Omega are one per-key ordered window
pass (lag / running max — single hash shuffle on the series key,
pure Catalyst, no Python) followed by a per-key hash aggregate; the
information ratio is two tiny per-hour aggregates joined on the hour
then one scalar aggregate — no data-sized join or sort anywhere. Hot
single-key series take the ``functions/segmented.py`` bucketing path
like the indicator kernels.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.series import round_portable, round_portable_duck, row_window
from ..sources.tables import load

__all__ = ["calmar", "omega", "information_ratio"]

Q = 10 ** 8
QF = float(Q)
US_PER_HOUR = 3_600_000_000


def calmar(df: DataFrame, value_col: str, keys: Sequence[str],
           order: Sequence[str]) -> DataFrame:
    """(keys..., n_returns, mean_ret, max_dd, calmar): per-period
    mean simple return divided by the maximum peak-to-trough
    drawdown of the raw value path. ``calmar`` is NULL for a key
    whose path never draws down (max_dd == 0)."""
    wrow = row_window(keys, order)
    wrun = wrow.rowsBetween(Window.unboundedPreceding, 0)
    prev = F.lag(value_col, 1).over(wrow)
    staged = (
        df.withColumn("__ret", F.when(
            prev != F.lit(0.0), F.col(value_col) / prev - F.lit(1.0)))
        .withColumn("__runmax", F.max(value_col).over(wrun))
        .withColumn("__dd", F.expr(
            f"CASE WHEN __runmax > 0 THEN "
            f"(__runmax - {value_col}) / __runmax END"))
    )
    agg = staged.groupBy(*keys).agg(
        F.sum(F.expr(
            f"CASE WHEN __ret IS NOT NULL THEN 1 ELSE 0 END"
        )).cast("bigint").alias("n_returns"),
        F.sum(F.expr(
            f"CAST(round(__ret * {Q}) AS BIGINT)")).alias("__sr"),
        F.max("__dd").alias("__mdd"),
    )
    mean = (f"(CAST(__sr AS DOUBLE) / (CAST(n_returns AS DOUBLE) "
            f"* {QF!r}))")
    return agg.filter(F.col("n_returns") > 0).select(
        *keys, "n_returns",
        round_portable(F.expr(mean), 6).alias("mean_ret"),
        round_portable(F.col("__mdd"), 6).alias("max_dd"),
        round_portable(F.expr(
            f"CASE WHEN __mdd > 0 THEN {mean} / __mdd END"), 6
        ).alias("calmar"),
    )


def omega(df: DataFrame, value_col: str, keys: Sequence[str],
          order: Sequence[str], threshold: float = 0.0) -> DataFrame:
    """(keys..., n_returns, gain, loss, omega): Omega ratio at
    ``threshold`` — the quantized mass of returns above it divided
    by the quantized mass below it. NULL when the loss mass is 0."""
    wrow = row_window(keys, order)
    prev = F.lag(value_col, 1).over(wrow)
    rets = (
        df.withColumn("__ret", F.when(
            prev != F.lit(0.0), F.col(value_col) / prev - F.lit(1.0)))
        .filter(F.col("__ret").isNotNull())
    )
    t = float(threshold)
    agg = rets.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_returns"),
        F.sum(F.expr(
            f"CAST(round(greatest(__ret - {t!r}, 0.0d) * {Q}) "
            f"AS BIGINT)")).alias("__g"),
        F.sum(F.expr(
            f"CAST(round(greatest({t!r} - __ret, 0.0d) * {Q}) "
            f"AS BIGINT)")).alias("__l"),
    )
    return agg.select(
        *keys, "n_returns",
        round_portable(F.expr(
            f"CAST(__g AS DOUBLE) / {QF!r}"), 6).alias("gain"),
        round_portable(F.expr(
            f"CAST(__l AS DOUBLE) / {QF!r}"), 6).alias("loss"),
        round_portable(F.expr(
            f"CASE WHEN __l > 0 THEN CAST(__g AS DOUBLE) "
            f"/ CAST(__l AS DOUBLE) END"), 6).alias("omega"),
    )


def information_ratio(df: DataFrame, us_col: str, value_col: str,
                      series_expr: str, series: str,
                      benchmark: str) -> DataFrame:
    """One row (n_hours, mean_active, sd_active, info_ratio): the
    hourly active difference ``series - benchmark`` (paired hourly
    means, hours where both exist), summarized as mean / sample
    standard deviation."""

    def hourly(side: str, out: str):
        return (
            df.filter(F.expr(series_expr) == F.lit(side))
            .selectExpr(f"({us_col}) DIV {US_PER_HOUR} AS __h",
                        f"{value_col} AS __v")
            .groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__c"),
                 F.sum(F.expr(
                     f"CAST(round(__v * {Q}) AS BIGINT)")).alias("__s"))
            .selectExpr(
                "__h",
                f"CAST(__s AS DOUBLE) / (CAST(__c AS DOUBLE) "
                f"* {QF!r}) AS {out}")
        )

    paired = hourly(series, "__x").join(hourly(benchmark, "__y"), "__h")
    sums = paired.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum(F.expr(
            f"CAST(round((__x - __y) * {Q}) AS BIGINT)")).alias("__sd1"),
        F.sum(F.expr(
            f"CAST(round((__x - __y) * (__x - __y) * {Q}) AS BIGINT)"
        )).alias("__sd2"),
    )
    mean = (f"(CAST(__sd1 AS DOUBLE) / (CAST(n_hours AS DOUBLE) "
            f"* {QF!r}))")
    var = (f"((CAST(__sd2 AS DOUBLE) / {QF!r} "
           f"- CAST(n_hours AS DOUBLE) * {mean} * {mean}) "
           f"/ CAST(n_hours - 1 AS DOUBLE))")
    return sums.filter(F.col("n_hours") > 1).select(
        "n_hours",
        round_portable(F.expr(mean), 6).alias("mean_active"),
        round_portable(F.expr(f"sqrt({var})"), 6).alias("sd_active"),
        round_portable(F.expr(
            f"CASE WHEN {var} > 0 THEN {mean} / sqrt({var}) END"), 6
        ).alias("info_ratio"),
    )


def _q_calmar(spark: SparkSession, sf_dir: str) -> DataFrame:
    return calmar(load(spark, sf_dir, "events"), "value",
                  ["event_type"], ["ts", "event_id"])


def _q_omega(spark: SparkSession, sf_dir: str) -> DataFrame:
    return omega(load(spark, sf_dir, "events"), "value",
                 ["event_type"], ["ts", "event_id"])


def _q_ir(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn(
        "__us", F.expr("ts DIV 1000"))
    return information_ratio(ev, "__us", "value", "event_type",
                             "click", "view")


_EV_W = "PARTITION BY event_type ORDER BY ts, event_id"

_ORACLE_CALMAR = f"""
WITH staged AS (
  SELECT event_type,
    CASE WHEN lag(value) OVER ({_EV_W}) != 0.0 THEN
      value / lag(value) OVER ({_EV_W}) - 1.0 END AS ret,
    CASE WHEN max(value) OVER ({_EV_W}
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0 THEN
      (max(value) OVER ({_EV_W}
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - value)
      / max(value) OVER ({_EV_W}
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END AS dd
  FROM events
), agg AS (
  SELECT event_type,
    CAST(sum(CASE WHEN ret IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS n_returns,
    CAST(sum(CAST(round(ret * {Q}) AS BIGINT)) AS BIGINT) AS sr,
    max(dd) AS mdd
  FROM staged GROUP BY 1
)
SELECT event_type, n_returns,
  {round_portable_duck(
      f"CAST(sr AS DOUBLE) / (CAST(n_returns AS DOUBLE) * {QF!r})",
      6)} AS mean_ret,
  {round_portable_duck("mdd", 6)} AS max_dd,
  {round_portable_duck(
      f"CASE WHEN mdd > 0 THEN (CAST(sr AS DOUBLE) "
      f"/ (CAST(n_returns AS DOUBLE) * {QF!r})) / mdd END", 6
  )} AS calmar
FROM agg WHERE n_returns > 0
"""

_ORACLE_OMEGA = f"""
WITH rets AS (
  SELECT event_type,
    CASE WHEN lag(value) OVER ({_EV_W}) != 0.0 THEN
      value / lag(value) OVER ({_EV_W}) - 1.0 END AS ret
  FROM events
), agg AS (
  SELECT event_type,
    CAST(count(*) AS BIGINT) AS n_returns,
    CAST(sum(CAST(round(greatest(ret - 0.0, 0.0) * {Q}) AS BIGINT))
      AS BIGINT) AS g,
    CAST(sum(CAST(round(greatest(0.0 - ret, 0.0) * {Q}) AS BIGINT))
      AS BIGINT) AS l
  FROM rets WHERE ret IS NOT NULL GROUP BY 1
)
SELECT event_type, n_returns,
  {round_portable_duck(f"CAST(g AS DOUBLE) / {QF!r}", 6)} AS gain,
  {round_portable_duck(f"CAST(l AS DOUBLE) / {QF!r}", 6)} AS loss,
  {round_portable_duck(
      "CASE WHEN l > 0 THEN CAST(g AS DOUBLE) / CAST(l AS DOUBLE) "
      "END", 6)} AS omega
FROM agg
"""

_IR_MEAN = (f"(CAST(sd1 AS DOUBLE) / (CAST(n_hours AS DOUBLE) "
            f"* {QF!r}))")
_IR_VAR = (f"((CAST(sd2 AS DOUBLE) / {QF!r} "
           f"- CAST(n_hours AS DOUBLE) * {_IR_MEAN} * {_IR_MEAN}) "
           f"/ CAST(n_hours - 1 AS DOUBLE))")

_ORACLE_IR = f"""
WITH ha AS (
  SELECT epoch_us(ts) // {US_PER_HOUR} AS h,
    CAST(sum(CAST(round(value * {Q}) AS BIGINT)) AS DOUBLE)
      / (CAST(count(*) AS DOUBLE) * {QF!r}) AS x
  FROM events WHERE event_type = 'click' GROUP BY 1
), hb AS (
  SELECT epoch_us(ts) // {US_PER_HOUR} AS h,
    CAST(sum(CAST(round(value * {Q}) AS BIGINT)) AS DOUBLE)
      / (CAST(count(*) AS DOUBLE) * {QF!r}) AS y
  FROM events WHERE event_type = 'view' GROUP BY 1
), paired AS (
  SELECT ha.h, ha.x, hb.y FROM ha JOIN hb ON ha.h = hb.h
), sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n_hours,
    CAST(sum(CAST(round((x - y) * {Q}) AS BIGINT)) AS BIGINT) AS sd1,
    CAST(sum(CAST(round((x - y) * (x - y) * {Q}) AS BIGINT))
      AS BIGINT) AS sd2
  FROM paired
)
SELECT n_hours,
  {round_portable_duck(_IR_MEAN, 6)} AS mean_active,
  {round_portable_duck(f"sqrt({_IR_VAR})", 6)} AS sd_active,
  {round_portable_duck(
      f"CASE WHEN {_IR_VAR} > 0 THEN {_IR_MEAN} / sqrt({_IR_VAR}) "
      f"END", 6)} AS info_ratio
FROM sums WHERE n_hours > 1
"""


QUERIES: dict = {
    "risk_calmar_events": (_q_calmar, _ORACLE_CALMAR),
    "risk_omega_events": (_q_omega, _ORACLE_OMEGA),
    "risk_info_ratio_events": (_q_ir, _ORACLE_IR),
}
