"""Fourth tier of technical indicators: Ichimoku cloud and classic
floor-trader pivot points — both pure Catalyst (frame max/min + lag
arithmetic; no Python anywhere in the plan).

Ichimoku on a single-price series (high = low = close = value, the
same degradation every single-price indicator here uses):

- ``tenkan``  = (max_p + min_p) / 2 over the last ``p`` rows
- ``kijun``   = (max_q + min_q) / 2 over the last ``q`` rows
- ``senkou_a``= midpoint of tenkan/kijun from ``q`` rows AGO (the
  cloud is plotted forward, so today's cloud edge was computed then)
- ``senkou_b``= (max_r + min_r) / 2 over ``r`` rows, from ``q`` ago
- ``chikou``  = the value from ``q`` rows AHEAD (lagging span)

Pivot points from the PRIOR day's bar (candles.daily_candles):
``P = (H + L + C) / 3``, ``R1 = 2P − L``, ``S1 = 2P − H``,
``R2 = P + (H − L)``, ``S2 = P − (H − L)``.

Scale: one hash shuffle on the series key for the windows (bars for
pivots are already per-day relations). Determinism: frame max/min are
order-free; midpoints and pivot arithmetic are fixed expression trees
over exactly-stored doubles, rounded portably.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.series import round_portable, round_portable_duck, row_window
from ..sources.tables import load
from .candles import _BARS_CTE, daily_candles

__all__ = ["ichimoku", "pivot_points", "cmo", "stoch_rsi"]


def ichimoku(df: DataFrame, value_col: str, keys: Sequence[str],
             order: Sequence[str], p: int = 9, q: int = 26,
             r: int = 52) -> DataFrame:
    """Append tenkan/kijun/senkou_a/senkou_b/chikou (NULL until the
    relevant frame fills; senkou lines need a further ``q``-row
    history, chikou a ``q``-row future)."""
    wrow = row_window(keys, order)

    def mid(n: int) -> F.Column:
        w = wrow.rowsBetween(-(n - 1), 0)
        full = F.count(F.col(value_col)).over(w) >= n
        return F.when(
            full,
            (F.max(value_col).over(w) + F.min(value_col).over(w))
            / F.lit(2.0),
        )

    staged = (
        df.withColumn("__tenkan", mid(p))
        .withColumn("__kijun", mid(q))
        .withColumn("__spanb_now", mid(r))
    )
    senkou_a = F.lag(
        (F.col("__tenkan") + F.col("__kijun")) / F.lit(2.0), q
    ).over(wrow)
    senkou_b = F.lag(F.col("__spanb_now"), q).over(wrow)
    chikou = F.lead(F.col(value_col), q).over(wrow)
    return (
        staged
        .withColumn("tenkan", round_portable(F.col("__tenkan")))
        .withColumn("kijun", round_portable(F.col("__kijun")))
        .withColumn("senkou_a", round_portable(senkou_a))
        .withColumn("senkou_b", round_portable(senkou_b))
        .withColumn("chikou", round_portable(chikou))
        .drop("__tenkan", "__kijun", "__spanb_now")
    )


def pivot_points(bars: DataFrame, keys: Sequence[str] = ("user_id",),
                 order: Sequence[str] = ("day",)) -> DataFrame:
    """Append pivot/r1/s1/r2/s2 from each bar's PRIOR bar (first bar
    of a key has no priors — NULL)."""
    wrow = row_window(keys, order)
    ph = F.lag("high", 1).over(wrow)
    pl = F.lag("low", 1).over(wrow)
    pc = F.lag("close", 1).over(wrow)
    staged = (
        bars.withColumn("__ph", ph).withColumn("__pl", pl)
        .withColumn("__pp", (ph + pl + pc) / F.lit(3.0))
    )
    return (
        staged
        .withColumn("pivot", round_portable(F.col("__pp")))
        .withColumn("r1", round_portable(
            F.lit(2.0) * F.col("__pp") - F.col("__pl")))
        .withColumn("s1", round_portable(
            F.lit(2.0) * F.col("__pp") - F.col("__ph")))
        .withColumn("r2", round_portable(
            F.col("__pp") + (F.col("__ph") - F.col("__pl"))))
        .withColumn("s2", round_portable(
            F.col("__pp") - (F.col("__ph") - F.col("__pl"))))
        .drop("__ph", "__pl", "__pp")
    )


# ---------------------------------------------------------------------------
# Gate queries (R05 queue). Ichimoku params scale to the ~66-99
# rows/user event series (5/10/20 instead of 9/26/52) so every output
# column is populated at every sf.
# ---------------------------------------------------------------------------


def cmo(df: DataFrame, value_col: str, keys: Sequence[str],
        order: Sequence[str], n: int = 14) -> DataFrame:
    """Chande Momentum Oscillator:
    ``100 * (Σgains − Σlosses) / (Σgains + Σlosses)`` over the last
    ``n`` price changes. Changes reduce to integer CENTS first, so the
    frame sums are EXACT BIGINTs (add-order-free at any scale) and
    only the final ratio is a double. NULL until the frame holds ``n``
    changes or when every change in the frame is zero."""
    wrow = row_window(keys, order)
    c = f"CAST(round({value_col} * 100) AS BIGINT)"
    staged = (
        df.withColumn("__c", F.expr(c))
        .withColumn("__d", F.col("__c") - F.lag("__c", 1).over(wrow))
        .withColumn("__g",
                    F.expr("CASE WHEN __d > 0 THEN __d ELSE 0 END"))
        .withColumn("__l",
                    F.expr("CASE WHEN __d < 0 THEN -__d ELSE 0 END"))
    )
    w = wrow.rowsBetween(-(n - 1), 0)
    staged = (
        staged
        .withColumn("__sg", F.sum("__g").over(w).cast("bigint"))
        .withColumn("__sl", F.sum("__l").over(w).cast("bigint"))
        .withColumn("__cnt", F.count("__d").over(w))
    )
    expr = (f"CASE WHEN __cnt >= {n} AND (__sg + __sl) > 0 THEN "
            f"100.0 * CAST(__sg - __sl AS DOUBLE) "
            f"/ CAST(__sg + __sl AS DOUBLE) END")
    return (
        staged.withColumn("cmo", round_portable(F.expr(expr)))
        .drop("__c", "__d", "__g", "__l", "__sg", "__sl", "__cnt")
    )


def stoch_rsi(df: DataFrame, value_col: str, keys: Sequence[str],
              order: Sequence[str], rsi_n: int = 14,
              stoch_n: int = 14) -> DataFrame:
    """Stochastic RSI: ``(rsi − min_n(rsi)) / (max_n − min_n)`` over
    the last ``stoch_n`` RSI values — RSI renormalized to its own
    recent range (what traders use when plain RSI pins at an extreme).

    The RSI stage is the reference-exact kernel
    (``with_indicators``); the stochastic stage is frame-local
    Catalyst min/max (null-skipping on BOTH engines, so RSI's warm-up
    NULLs shrink early frames identically). NULL until the frame holds
    ``stoch_n`` RSI values and when the frame is flat."""
    from . import indicators as ind

    with_rsi = ind.with_indicators(
        df, value_col, list(order), list(keys), [ind.rsi(rsi_n)])
    rsi_col = f"rsi_{rsi_n}"
    w = row_window(keys, order).rowsBetween(-(stoch_n - 1), 0)
    staged = (
        with_rsi
        .withColumn("__mn", F.min(rsi_col).over(w))
        .withColumn("__mx", F.max(rsi_col).over(w))
        .withColumn("__cnt", F.count(rsi_col).over(w))
    )
    expr = (f"CASE WHEN __cnt >= {stoch_n} AND __mx != __mn THEN "
            f"({rsi_col} - __mn) / (__mx - __mn) END")
    return (
        staged.withColumn("stoch_rsi", round_portable(F.expr(expr)))
        .drop("__mn", "__mx", "__cnt")
    )

_P, _Q, _R = 5, 10, 20
_EVENTS_W = "PARTITION BY user_id ORDER BY ts, event_id"


def _q_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ichimoku(load(spark, sf_dir, "events"), "value",
                   ["user_id"], ["ts", "event_id"], p=_P, q=_Q, r=_R)
    return out.select("user_id", "event_id", "tenkan", "kijun",
                      "senkou_a", "senkou_b", "chikou")


def _duck_mid(n: int, alias: str) -> str:
    w = (f"({_EVENTS_W} ROWS BETWEEN {n - 1} PRECEDING "
         f"AND CURRENT ROW)")
    return (
        f"CASE WHEN count(value) OVER {w} >= {n} THEN "
        f"(max(value) OVER {w} + min(value) OVER {w}) / 2.0 END"
        f" AS {alias}"
    )


_ORACLE_ICHIMOKU = f"""
WITH s AS (
  SELECT user_id, event_id, ts, value,
         {_duck_mid(_P, "tk")},
         {_duck_mid(_Q, "kj")},
         {_duck_mid(_R, "sbn")}
  FROM events
), l AS (
  SELECT user_id, event_id,
         tk, kj,
         lag((tk + kj) / 2.0, {_Q}) OVER ({_EVENTS_W}) AS sa,
         lag(sbn, {_Q}) OVER ({_EVENTS_W}) AS sb,
         lead(value, {_Q}) OVER ({_EVENTS_W}) AS ck
  FROM s
)
SELECT user_id, event_id,
  {round_portable_duck("tk")} AS tenkan,
  {round_portable_duck("kj")} AS kijun,
  {round_portable_duck("sa")} AS senkou_a,
  {round_portable_duck("sb")} AS senkou_b,
  {round_portable_duck("ck")} AS chikou
FROM l
"""


def _q_pivots(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = daily_candles(load(spark, sf_dir, "events"))
    out = pivot_points(bars)
    return out.select("user_id", "day", "pivot", "r1", "s1", "r2", "s2")


_BARS_W = "PARTITION BY user_id ORDER BY day ASC"

_ORACLE_PIVOTS = f"""
WITH {_BARS_CTE},
l AS (
  SELECT user_id, day,
         lag(high) OVER ({_BARS_W}) AS ph,
         lag(low) OVER ({_BARS_W}) AS pl,
         (lag(high) OVER ({_BARS_W}) + lag(low) OVER ({_BARS_W})
          + lag(close) OVER ({_BARS_W})) / 3.0 AS pp
  FROM bars
)
SELECT user_id, day,
  {round_portable_duck("pp")} AS pivot,
  {round_portable_duck("2.0 * pp - pl")} AS r1,
  {round_portable_duck("2.0 * pp - ph")} AS s1,
  {round_portable_duck("pp + (ph - pl)")} AS r2,
  {round_portable_duck("pp - (ph - pl)")} AS s2
FROM l
"""


_CMO_N = 14


def _q_cmo(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = cmo(load(spark, sf_dir, "events"), "value",
              ["user_id"], ["ts", "event_id"], n=_CMO_N)
    return out.select("user_id", "event_id", "cmo")


_ORACLE_CMO = f"""
WITH t AS (
  SELECT user_id, event_id, ts,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events
), d AS (
  SELECT user_id, event_id, ts,
         c - lag(c) OVER ({_EVENTS_W}) AS dd
  FROM t
), f AS (
  SELECT user_id, event_id,
         CAST(sum(CASE WHEN dd > 0 THEN dd ELSE 0 END) OVER w
              AS BIGINT) AS sg,
         CAST(sum(CASE WHEN dd < 0 THEN -dd ELSE 0 END) OVER w
              AS BIGINT) AS sl,
         count(dd) OVER w AS cnt
  FROM d
  WINDOW w AS ({_EVENTS_W}
               ROWS BETWEEN {_CMO_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id,
  {round_portable_duck(
      f"CASE WHEN cnt >= {_CMO_N} AND (sg + sl) > 0 THEN "
      f"100.0 * CAST(sg - sl AS DOUBLE) "
      f"/ CAST(sg + sl AS DOUBLE) END")} AS cmo
FROM f
"""

_SRSI_RSI_N = 14
_SRSI_N = 14


def _q_stoch_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = stoch_rsi(load(spark, sf_dir, "events"), "value",
                    ["user_id"], ["ts", "event_id"],
                    rsi_n=_SRSI_RSI_N, stoch_n=_SRSI_N)
    return out.select("user_id", "event_id", "stoch_rsi")


def _srsi_oracle() -> str:
    from ..plans.indicator_queries import oracle_indicator_sql
    from ..plans.series import SeriesCfg
    from . import indicators as ind

    cfg = SeriesCfg(table="events", keys=("user_id",),
                    order=("ts", "event_id"), value="value",
                    out_cols=("user_id", "event_id", "ts"))
    inner = oracle_indicator_sql(cfg, [ind.rsi(_SRSI_RSI_N)], dp=None)
    col = f"rsi_{_SRSI_RSI_N}"
    return f"""
WITH r AS ({inner}),
f AS (
  SELECT user_id, event_id, {col},
         min({col}) OVER w AS mn, max({col}) OVER w AS mx,
         count({col}) OVER w AS cnt
  FROM r
  WINDOW w AS ({_EVENTS_W}
               ROWS BETWEEN {_SRSI_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id,
  {round_portable_duck(
      f"CASE WHEN cnt >= {_SRSI_N} AND mx != mn THEN "
      f"({col} - mn) / (mx - mn) END")} AS stoch_rsi
FROM f
"""


QUERIES: dict = {
    "ind_ichimoku_events": (_q_ichimoku, _ORACLE_ICHIMOKU),
    "ind_pivots_events": (_q_pivots, _ORACLE_PIVOTS),
    "ind_cmo_events": (_q_cmo, _ORACLE_CMO),
    "ind_stochrsi_events": (_q_stoch_rsi, _srsi_oracle()),
}
