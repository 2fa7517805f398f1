"""Daily OHLC candles + classic candlestick pattern flags (doji,
hammer, bullish engulfing).

Extends the bar surface (``functions/bars.py`` builds OHLCV bars; the
reference's day-aggregation scope is SURVEY §2.A21-22) with the
pattern-detection step a signals pipeline runs on top of bars.

Plan shape at scale: the bar build is ONE map-side-combinable
groupBy((key, day)) using ``min_by``/``max_by`` structs for open/close
(no per-group sort, no window over raw ticks); pattern flags are
lag-comparisons over the bar series — a second window over DAYS per
key (thousands of rows per key-year, not ticks), trivially cheap.
All comparisons are between exactly-stored doubles, so the flags are
engine-exact without rounding.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.series import round_portable, round_portable_duck
from ..sources.tables import load

__all__ = ["daily_candles", "candle_patterns", "heikin_ashi"]

_DAY_NS = 86_400 * 1_000_000_000

DOJI_BODY_FRAC = 0.1       # body <= 10% of range
HAMMER_SHADOW_MULT = 2.0   # lower shadow >= 2x body


def daily_candles(df: DataFrame, value_col: str = "value",
                  key_col: str = "user_id", ts_ns_col: str = "ts",
                  tiebreak_col: str = "event_id") -> DataFrame:
    """(key, day, open, high, low, close, n_ticks) daily bars.

    Open/close pick the first/last tick by the unique
    (ts, tiebreak) ordering via ``min_by``/``max_by`` structs —
    map-side combinable, no window over raw ticks."""
    ordk = F.struct(F.col(ts_ns_col), F.col(tiebreak_col))
    day = F.expr(f"{ts_ns_col} DIV {_DAY_NS}")
    return (
        df.withColumn("__day", day)
        .groupBy(key_col, "__day")
        .agg(
            F.min_by(value_col, ordk).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max_by(value_col, ordk).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .withColumnRenamed("__day", "day")
    )


def candle_patterns(df: DataFrame, value_col: str = "value",
                    key_col: str = "user_id", ts_ns_col: str = "ts",
                    tiebreak_col: str = "event_id") -> DataFrame:
    """Daily candles + boolean pattern flags:

    - ``is_doji``: |close − open| ≤ 10% of (high − low), range > 0;
    - ``is_hammer``: lower shadow ≥ 2× body, upper shadow ≤ body,
      range > 0;
    - ``is_bull_engulf``: previous bar red, this bar green, and this
      body engulfs the previous body (prev bar from LAG over days).
    """
    bars = daily_candles(df, value_col, key_col, ts_ns_col, tiebreak_col)
    w = Window.partitionBy(key_col).orderBy(F.col("day").asc())
    body = F.abs(F.col("close") - F.col("open"))
    rng = F.col("high") - F.col("low")
    lower = F.least("open", "close") - F.col("low")
    upper = F.col("high") - F.greatest("open", "close")
    p_open = F.lag("open", 1).over(w)
    p_close = F.lag("close", 1).over(w)
    return (
        bars
        .withColumn("is_doji",
                    (rng > 0) & (body <= F.lit(DOJI_BODY_FRAC) * rng))
        .withColumn(
            "is_hammer",
            (rng > 0) & (lower >= F.lit(HAMMER_SHADOW_MULT) * body)
            & (upper <= body))
        .withColumn(
            "is_bull_engulf",
            # coalesce(FALSE): a key's first bar has no previous bar —
            # "not engulfing", not NULL. Keeps the column non-nullable
            # BOOLEAN on both engines (a nullable bool lands as a
            # pandas OBJECT column where Spark emits None and DuckDB
            # NaN — a hash hazard for the driver compare).
            F.coalesce(
                (p_close < p_open) & (F.col("close") > F.col("open"))
                & (F.col("close") >= p_open) & (F.col("open") <= p_close),
                F.lit(False)))
        .select(
            key_col, "day",
            round_portable(F.col("open")).alias("open"),
            round_portable(F.col("high")).alias("high"),
            round_portable(F.col("low")).alias("low"),
            round_portable(F.col("close")).alias("close"),
            "n_ticks", "is_doji", "is_hammer", "is_bull_engulf",
        )
    )


def heikin_ashi(bars: DataFrame, key_col: str = "user_id",
                order_col: str = "day") -> DataFrame:
    """Heikin-Ashi smoothed candles from raw OHLC bars:

    - ``ha_close_t = (o + h + l + c) / 4`` (bar-local);
    - ``ha_open_1 = (o_1 + c_1) / 2``, then the recursion
      ``ha_open_t = (ha_open_{t-1} + ha_close_{t-1}) / 2``;
    - ``ha_high/ha_low`` = extremes of (h, ha_open, ha_close) /
      (l, ha_open, ha_close).

    The open recursion is an affine fold over the PRIOR ha_close
    prefix, so it stays pure Catalyst: ``aggregate(prefix_list, seed,
    (a, x) -> (a + x) / 2)`` — identical tree to the DuckDB
    ``list_reduce`` oracle (the ema-fold pattern at alpha = 1/2).
    O(bars²) per key, but the input is DAILY bars (tens of rows per
    key-month), not ticks.
    """
    w = Window.partitionBy(key_col).orderBy(F.col(order_col).asc())
    hc = ("(CAST(open AS DOUBLE) + high + low + close) / 4.0")
    staged = (
        bars.withColumn("__hc", F.expr(hc))
        .withColumn("__seed", F.first(
            F.expr("(open + close) / 2.0")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("__pfx", F.collect_list("__hc").over(
            w.rowsBetween(Window.unboundedPreceding, -1)))
    )
    ha_open = "aggregate(__pfx, __seed, (a, x) -> (a + x) / 2.0D)"
    out = (
        staged.withColumn("__ho", F.expr(ha_open))
        .withColumn("ha_open", round_portable(F.col("__ho")))
        .withColumn("ha_close", round_portable(F.col("__hc")))
        .withColumn("ha_high", round_portable(
            F.expr("greatest(high, __ho, __hc)")))
        .withColumn("ha_low", round_portable(
            F.expr("least(low, __ho, __hc)")))
    )
    return out.drop("__hc", "__seed", "__pfx", "__ho")


# --------------------------------------------------------------------------
# Gate query
# --------------------------------------------------------------------------


def _q_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return candle_patterns(load(spark, sf_dir, "events"))


_BARS_CTE = f"""
  t AS (
    SELECT user_id, epoch_us(ts) * 1000 AS tns, event_id, value
    FROM events
  ), ranked AS (
    SELECT user_id, tns // {_DAY_NS} AS day, value,
           row_number() OVER (PARTITION BY user_id, tns // {_DAY_NS}
                              ORDER BY tns ASC, event_id ASC) AS rf,
           row_number() OVER (PARTITION BY user_id, tns // {_DAY_NS}
                              ORDER BY tns DESC, event_id DESC) AS rl
    FROM t
  ), bars AS (
    SELECT user_id, day,
           max(CASE WHEN rf = 1 THEN value END) AS open,
           max(value) AS high, min(value) AS low,
           max(CASE WHEN rl = 1 THEN value END) AS close,
           count(*) AS n_ticks
    FROM ranked GROUP BY 1, 2
  )
"""

_ORACLE_CANDLES = f"""
WITH {_BARS_CTE},
  lagged AS (
    SELECT *, lag(open) OVER w AS p_open, lag(close) OVER w AS p_close
    FROM bars
    WINDOW w AS (PARTITION BY user_id ORDER BY day ASC)
  )
SELECT user_id, day,
  {round_portable_duck("open")} AS open,
  {round_portable_duck("high")} AS high,
  {round_portable_duck("low")} AS low,
  {round_portable_duck("close")} AS close,
  n_ticks,
  (high - low > 0 AND abs(close - open)
     <= {DOJI_BODY_FRAC!r} * (high - low)) AS is_doji,
  (high - low > 0
   AND least(open, close) - low
       >= {HAMMER_SHADOW_MULT!r} * abs(close - open)
   AND high - greatest(open, close) <= abs(close - open)) AS is_hammer,
  coalesce(p_close < p_open AND close > open
   AND close >= p_open AND open <= p_close, FALSE) AS is_bull_engulf
FROM lagged
"""


def _q_heikin_ashi(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_candles(load(spark, sf_dir, "events"))
    out = heikin_ashi(bars)
    return out.select("user_id", "day", "ha_open", "ha_close",
                      "ha_high", "ha_low")


_HA_W = "PARTITION BY user_id ORDER BY day ASC"

_ORACLE_HEIKIN_ASHI = f"""
WITH {_BARS_CTE},
hc AS (
  SELECT user_id, day, open, high, low, close,
         (CAST(open AS DOUBLE) + high + low + close) / 4.0 AS hcv
  FROM bars
), st AS (
  SELECT user_id, day, high, low, hcv,
         first_value((open + close) / 2.0) OVER
           ({_HA_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS seed,
         coalesce(list(hcv) OVER
           ({_HA_W} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           []) AS pfx
  FROM hc
), ho AS (
  SELECT user_id, day, high, low, hcv,
         list_reduce(list_concat([seed], pfx),
                     (a, x) -> (a + x) / 2.0) AS hov
  FROM st
)
SELECT user_id, day,
  {round_portable_duck("hov")} AS ha_open,
  {round_portable_duck("hcv")} AS ha_close,
  {round_portable_duck("greatest(high, hov, hcv)")} AS ha_high,
  {round_portable_duck("least(low, hov, hcv)")} AS ha_low
FROM ho
"""


QUERIES: dict = {
    "ind_candles_events": (_q_candles, _ORACLE_CANDLES),
    "ind_heikin_ashi_events": (_q_heikin_ashi, _ORACLE_HEIKIN_ASHI),
}
