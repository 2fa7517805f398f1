"""Technical indicators beyond the reference's four: ATR (close-to-close
true range), stochastic oscillator (%K/%D), on-balance volume, and
log/cumulative returns.

Reference scope: ``/root/reference/src/functions/`` implements
sma/ema/rsi/macd only; these extend the same indicator family with the
next tier a quant user expects. Like ``rollstats``, every one of these
is frame-local or prefix-incremental — pure Catalyst windows (no Python
stage), one hash shuffle on the series key, whole-stage codegen, and
per-key scale-out like any Spark window at 100 TB.

Determinism across engines: outputs go through the portable 0-dp-scale
rounding (``plans/series.py``); integer sums (OBV) are kept in BIGINT
on both sides so partial-aggregation order can never flip a bit.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.series import (
    round_portable, round_portable_duck, row_frame, row_window,
)
from ..sources.tables import load

__all__ = ["atr", "stochastic", "obv", "log_returns", "roc", "donchian"]


def atr(df: DataFrame, value_col: str, keys: Sequence[str],
        order: Sequence[str], n: int = 14) -> DataFrame:
    """Average True Range, close-to-close variant: the series carries one
    price per tick (no high/low), so true range degrades to
    ``abs(p - lag(p))`` and ATR is its ``n``-row rolling mean (the SMA
    smoothing variant; Wilder's recursive smoothing is the ``ema``
    kernel with alpha=1/n if needed). NULL until ``n`` true ranges fill
    the frame.
    """
    wrow = row_window(keys, order)
    tr = F.abs(F.col(value_col) - F.lag(value_col, 1).over(wrow))
    with_tr = df.withColumn("__tr", tr)
    w = row_frame(keys, order, n)
    full = F.count(F.col("__tr")).over(w) >= n
    return with_tr.withColumn(
        "atr", round_portable(F.when(full, F.avg("__tr").over(w)))
    ).drop("__tr")


def stochastic(df: DataFrame, value_col: str, keys: Sequence[str],
               order: Sequence[str], n: int = 14,
               d_n: int = 3) -> DataFrame:
    """Stochastic oscillator on a single-price series:
    ``%K = 100 * (p - min_n) / (max_n - min_n)`` over the last ``n``
    rows (NULL when the frame is short or flat), and ``%D`` = ``d_n``-row
    rolling mean of %K. Frame-local min/max/avg — incremental windows.
    """
    w = row_frame(keys, order, n)
    full = F.count(F.col(value_col)).over(w) >= n
    lo = F.min(value_col).over(w)
    hi = F.max(value_col).over(w)
    k = F.lit(100.0) * (F.col(value_col) - lo) / F.nullif(
        hi - lo, F.lit(0.0))
    with_k = df.withColumn("__k", F.when(full, k))
    wd = row_frame(keys, order, d_n)
    d_full = F.count(F.col("__k")).over(wd) >= d_n
    return (
        with_k.withColumn("stoch_k", round_portable(F.col("__k")))
        .withColumn(
            "stoch_d",
            round_portable(F.when(d_full, F.avg("__k").over(wd))),
        )
        .drop("__k")
    )


def obv(df: DataFrame, price_col: str, volume_col: str,
        keys: Sequence[str], order: Sequence[str]) -> DataFrame:
    """On-balance volume: running BIGINT sum of
    ``sign(p - lag(p)) * volume`` (first row of a key contributes 0).
    The prefix frame is evaluated incrementally — no per-row rescan —
    and integer accumulation makes the result order-exact on any
    partial-aggregation schedule.
    """
    wrow = row_window(keys, order)
    prev = F.lag(price_col, 1).over(wrow)
    direction = (
        F.when(F.col(price_col) > prev, F.lit(1))
        .when(F.col(price_col) < prev, F.lit(-1))
        .otherwise(F.lit(0))
    )
    signed = direction * F.col(volume_col).cast("bigint")
    w = wrow.rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(
        "obv", F.sum(signed).over(w).cast("bigint")
    )


def log_returns(df: DataFrame, value_col: str, keys: Sequence[str],
                order: Sequence[str]) -> DataFrame:
    """Per-tick log return ``ln(p / lag(p))`` and cumulative simple
    return ``p / first(p) - 1``. Guarded to NULL when either price is
    non-positive (sf0.1 events carry value == 0.0 rows), so the math is
    total on real data without ANSI surprises.
    """
    wrow = row_window(keys, order)
    prev = F.lag(value_col, 1).over(wrow)
    pos = (F.col(value_col) > 0) & (prev > 0)
    ret = F.when(pos, F.log(F.col(value_col) / prev))
    wfirst = wrow.rowsBetween(Window.unboundedPreceding, 0)
    first = F.first(value_col).over(wfirst)
    cum = F.when(
        (F.col(value_col) > 0) & (first > 0),
        F.col(value_col) / first - F.lit(1.0),
    )
    return (
        df.withColumn("log_ret", round_portable(ret))
        .withColumn("cum_ret", round_portable(cum))
    )


def roc(df: DataFrame, value_col: str, keys: Sequence[str],
        order: Sequence[str], n: int = 10) -> DataFrame:
    """Rate of change (momentum): ``100 * (p / p_{-n} - 1)``. NULL for
    the first ``n`` rows of a key and wherever either price is
    non-positive (total on real data)."""
    wrow = row_window(keys, order)
    prev = F.lag(value_col, n).over(wrow)
    ok = (F.col(value_col) > 0) & (prev > 0)
    out = F.when(ok, F.lit(100.0) * (F.col(value_col) / prev - F.lit(1.0)))
    return df.withColumn("roc", round_portable(out))


def donchian(df: DataFrame, value_col: str, keys: Sequence[str],
             order: Sequence[str], n: int = 20) -> DataFrame:
    """Donchian channel: rolling ``n``-row high/low and their midpoint.
    NULL until the frame is full (same warm-up convention as sma)."""
    w = row_frame(keys, order, n)
    full = F.count(F.col(value_col)).over(w) >= n
    hi = F.when(full, F.max(value_col).over(w))
    lo = F.when(full, F.min(value_col).over(w))
    return (
        df.withColumn("don_hi", round_portable(hi))
        .withColumn("don_lo", round_portable(lo))
        .withColumn("don_mid", round_portable((hi + lo) / F.lit(2.0)))
    )


# --------------------------------------------------------------------------
# Gate queries (events: user_id series ordered by (ts, event_id);
# lineitem: supplier series — same configs as plans/series.py)
# --------------------------------------------------------------------------

_ATR_N = 5
_STOCH_N, _STOCH_D = 5, 3

_EVENTS_W = "PARTITION BY user_id ORDER BY ts, event_id"
_LINEITEM_W = ("PARTITION BY l_suppkey "
               "ORDER BY l_shipdate, l_orderkey, l_linenumber, "
               "l_extendedprice")


def _q_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = atr(load(spark, sf_dir, "events"), "value", ["user_id"],
              ["ts", "event_id"], n=_ATR_N)
    return out.select("user_id", "event_id", "value", "atr")


_ORACLE_ATR = f"""
WITH r AS (
  SELECT user_id, event_id, value,
         abs(value - lag(value) OVER ({_EVENTS_W})) AS tr,
         ts
  FROM events
), t AS (
  SELECT user_id, event_id, value,
         avg(tr) OVER w AS a, count(tr) OVER w AS cnt
  FROM r
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_ATR_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, value,
  {round_portable_duck(f"CASE WHEN cnt >= {_ATR_N} THEN a END")} AS atr
FROM t
"""


def _q_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = stochastic(load(spark, sf_dir, "events"), "value", ["user_id"],
                     ["ts", "event_id"], n=_STOCH_N, d_n=_STOCH_D)
    return out.select("user_id", "event_id", "value", "stoch_k", "stoch_d")


_ORACLE_STOCH = f"""
WITH t AS (
  SELECT user_id, event_id, value, ts,
         min(value) OVER w AS lo, max(value) OVER w AS hi,
         count(value) OVER w AS cnt
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_STOCH_N - 1} PRECEDING AND CURRENT ROW)
), k AS (
  SELECT user_id, event_id, value, ts,
         CASE WHEN cnt >= {_STOCH_N}
              THEN 100.0 * (value - lo) / nullif(hi - lo, 0.0) END AS kk
  FROM t
), d AS (
  SELECT user_id, event_id, value, kk,
         avg(kk) OVER w AS dd, count(kk) OVER w AS dcnt
  FROM k
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_STOCH_D - 1} PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, value,
  {round_portable_duck("kk")} AS stoch_k,
  {round_portable_duck(f"CASE WHEN dcnt >= {_STOCH_D} THEN dd END")}
    AS stoch_d
FROM d
"""


def _q_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = obv(load(spark, sf_dir, "lineitem"), "l_extendedprice",
              "l_quantity", ["l_suppkey"],
              ["l_shipdate", "l_orderkey", "l_linenumber",
               "l_extendedprice"])
    return out.select("l_suppkey", "l_orderkey", "l_linenumber", "obv")


_ORACLE_OBV = f"""
WITH r AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         l_shipdate, l_extendedprice,
         CASE WHEN l_extendedprice >
                   lag(l_extendedprice) OVER ({_LINEITEM_W}) THEN 1
              WHEN l_extendedprice <
                   lag(l_extendedprice) OVER ({_LINEITEM_W}) THEN -1
              ELSE 0 END * CAST(l_quantity AS BIGINT) AS signed_vol
  FROM lineitem
)
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(sum(signed_vol) OVER ({_LINEITEM_W}
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS obv
FROM r
"""


def _q_log_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = log_returns(load(spark, sf_dir, "events"), "value", ["user_id"],
                      ["ts", "event_id"])
    return out.select("user_id", "event_id", "value", "log_ret", "cum_ret")


_ORACLE_LOGRET = f"""
WITH r AS (
  SELECT user_id, event_id, value,
         lag(value) OVER ({_EVENTS_W}) AS prev,
         first_value(value) OVER ({_EVENTS_W}
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fst
  FROM events
)
SELECT user_id, event_id, value,
  {round_portable_duck(
      "CASE WHEN value > 0 AND prev > 0 THEN ln(value / prev) END")}
    AS log_ret,
  {round_portable_duck(
      "CASE WHEN value > 0 AND fst > 0 THEN value / fst - 1.0 END")}
    AS cum_ret
FROM r
"""


_ROC_N = 5
_DON_N = 5


def _q_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = roc(load(spark, sf_dir, "events"), "value", ["user_id"],
              ["ts", "event_id"], n=_ROC_N)
    return out.select("user_id", "event_id", "value", "roc")


_ORACLE_ROC = f"""
WITH r AS (
  SELECT user_id, event_id, value,
         lag(value, {_ROC_N}) OVER ({_EVENTS_W}) AS prev
  FROM events
)
SELECT user_id, event_id, value,
  {round_portable_duck(
      "CASE WHEN value > 0 AND prev > 0 "
      "THEN 100.0 * (value / prev - 1.0) END")} AS roc
FROM r
"""


def _q_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = donchian(load(spark, sf_dir, "events"), "value", ["user_id"],
                   ["ts", "event_id"], n=_DON_N)
    return out.select("user_id", "event_id", "value",
                      "don_hi", "don_lo", "don_mid")


_ORACLE_DONCHIAN = f"""
WITH t AS (
  SELECT user_id, event_id, value,
         max(value) OVER w AS hi, min(value) OVER w AS lo,
         count(value) OVER w AS cnt
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_DON_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, value,
  {round_portable_duck(f"CASE WHEN cnt >= {_DON_N} THEN hi END")}
    AS don_hi,
  {round_portable_duck(f"CASE WHEN cnt >= {_DON_N} THEN lo END")}
    AS don_lo,
  {round_portable_duck(
      f"CASE WHEN cnt >= {_DON_N} THEN (hi + lo) / 2.0 END")}
    AS don_mid
FROM t
"""


QUERIES: dict = {
    "ind_atr_events": (_q_atr, _ORACLE_ATR),
    "ind_stochastic_events": (_q_stochastic, _ORACLE_STOCH),
    "ind_obv_lineitem": (_q_obv, _ORACLE_OBV),
    "ind_logret_events": (_q_log_returns, _ORACLE_LOGRET),
    "ind_roc_events": (_q_roc, _ORACLE_ROC),
    "ind_donchian_events": (_q_donchian, _ORACLE_DONCHIAN),
}
