"""Fifth tier of technical indicators: Vortex, Elder Ray, Chandelier
exit, and Williams fractals — rounding out the indicator surface with
the remaining widely-used trend/exit/reversal tools, in the same
single-price degradation the rest of the repo uses (high = low =
close = value; reference anchor: extends the indicator family of
src/lib.rs — the reference itself stops at SMA/EMA/RSI/MACD).

All but Elder Ray are pure Catalyst (lag/lead + frame aggregates over
one series window — one hash shuffle on the series key, no Python).
Elder Ray needs EMA-13, which is the reference-exact recursive kernel
(``with_indicators``): one additional Arrow pass, same shuffle key.

Close-only degradations:
- Vortex: VM+ = max(Δ, 0), VM− = max(−Δ, 0), TR = |Δ| (Δ = p − lag p);
  VI± = Σₙ VM± / Σₙ TR. Frame sums evaluate rows in the same window
  order on both engines — bit-identical before rounding.
- Chandelier exit (long): rolling max(p, n) − k·ATRₙ with the
  close-to-close ATR (frame mean of |Δ|).
- Williams fractal: strict 5-point local extremum flags
  (p > both 2 before and 2 after → fractal high; < → low). Integer
  output, no float anywhere.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.series import round_portable, round_portable_duck, row_window
from ..sources.tables import load
from . import indicators as ind
from ..plans.indicator_queries import _alpha_sql, _ema_fold_sql

__all__ = ["vortex", "elder_ray", "chandelier_exit", "fractals"]


def vortex(df: DataFrame, value_col: str, keys: Sequence[str],
           order: Sequence[str], n: int = 14) -> DataFrame:
    """Append vi_plus / vi_minus (NULL until ``n`` deltas fill the
    frame; NULL when the range sum is zero — a flat window has no
    direction)."""
    wrow = row_window(keys, order)
    d = F.col(value_col) - F.lag(value_col, 1).over(wrow)
    staged = (
        df.withColumn("__vp", F.greatest(d, F.lit(0.0)))
        .withColumn("__vm", F.greatest(-d, F.lit(0.0)))
        .withColumn("__tr", F.abs(d))
    )
    w = wrow.rowsBetween(-(n - 1), 0)
    den = F.sum("__tr").over(w)
    full = (F.count(F.col("__tr")).over(w) >= n) & (den != 0.0)
    return (
        staged
        .withColumn("vi_plus", round_portable(
            F.when(full, F.sum("__vp").over(w) / den)))
        .withColumn("vi_minus", round_portable(
            F.when(full, F.sum("__vm").over(w) / den)))
        .drop("__vp", "__vm", "__tr")
    )


def elder_ray(df: DataFrame, value_col: str, keys: Sequence[str],
              order: Sequence[str], n: int = 13) -> DataFrame:
    """Append bull_power = p − EMAₙ(p) (close-only: bear power is the
    same quantity) and its EMA-relative form. EMA is the recursive
    kernel — bit-identical to the list-fold oracle."""
    out_col = f"__ema_{n}"
    with_ema = ind.with_indicators(
        df, value_col, list(order), list(keys),
        [ind.ema(n, out_col)],
    )
    return (
        with_ema
        .withColumn("bull_power", round_portable(
            F.col(value_col) - F.col(out_col)))
        .withColumn("bull_pct", round_portable(
            (F.col(value_col) - F.col(out_col)) / F.col(out_col)))
        .drop(out_col)
    )


def chandelier_exit(df: DataFrame, value_col: str,
                    keys: Sequence[str], order: Sequence[str],
                    n: int = 22, k: float = 3.0) -> DataFrame:
    """Append chandelier_long = maxₙ(p) − k·ATRₙ (close-to-close ATR;
    NULL until ``n`` deltas fill the frame)."""
    wrow = row_window(keys, order)
    tr = F.abs(F.col(value_col) - F.lag(value_col, 1).over(wrow))
    staged = df.withColumn("__tr", tr)
    w = wrow.rowsBetween(-(n - 1), 0)
    full = F.count(F.col("__tr")).over(w) >= n
    return staged.withColumn(
        "chandelier_long",
        round_portable(F.when(
            full,
            F.max(value_col).over(w) - F.lit(k) * F.avg("__tr").over(w),
        )),
    ).drop("__tr")


def fractals(df: DataFrame, value_col: str, keys: Sequence[str],
             order: Sequence[str]) -> DataFrame:
    """Append is_fractal_high / is_fractal_low: strict 5-point local
    extremum flags (0 at series edges — a fractal needs two neighbors
    on each side)."""
    wrow = row_window(keys, order)
    p = F.col(value_col)
    l1, l2 = F.lag(p, 1).over(wrow), F.lag(p, 2).over(wrow)
    f1, f2 = F.lead(p, 1).over(wrow), F.lead(p, 2).over(wrow)
    present = (l2.isNotNull() & f2.isNotNull())
    hi = present & (p > l1) & (p > l2) & (p > f1) & (p > f2)
    lo = present & (p < l1) & (p < l2) & (p < f1) & (p < f2)
    return (
        df.withColumn("is_fractal_high",
                      F.when(hi, 1).otherwise(0).cast("int"))
        .withColumn("is_fractal_low",
                    F.when(lo, 1).otherwise(0).cast("int"))
    )


# --------------------------------------------------------------------------
# Gate queries (events series: user_id / ts, event_id)
# --------------------------------------------------------------------------

_EVENTS_W = "PARTITION BY user_id ORDER BY ts, event_id"
_N_VORTEX = 14
_N_CHAND = 22
_K_CHAND = 3.0
_N_ELDER = 13


def _q_vortex(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = vortex(load(spark, sf_dir, "events"), "value", ["user_id"],
                 ["ts", "event_id"], n=_N_VORTEX)
    return out.select("user_id", "event_id", "vi_plus", "vi_minus")


_ORACLE_VORTEX = f"""
WITH d AS (
  SELECT user_id, event_id, ts,
         value - lag(value) OVER ({_EVENTS_W}) AS dd
  FROM events
), s AS (
  SELECT user_id, event_id,
         sum(greatest(dd, 0.0)) OVER w AS vp,
         sum(greatest(-dd, 0.0)) OVER w AS vm,
         sum(abs(dd)) OVER w AS tr,
         count(abs(dd)) OVER w AS cnt
  FROM d
  WINDOW w AS ({_EVENTS_W} ROWS BETWEEN {_N_VORTEX - 1} PRECEDING
               AND CURRENT ROW)
)
SELECT user_id, event_id,
  {round_portable_duck(
      f"CASE WHEN cnt >= {_N_VORTEX} THEN vp / nullif(tr, 0.0) END")}
    AS vi_plus,
  {round_portable_duck(
      f"CASE WHEN cnt >= {_N_VORTEX} THEN vm / nullif(tr, 0.0) END")}
    AS vi_minus
FROM s
"""


def _q_elder(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = elder_ray(load(spark, sf_dir, "events"), "value", ["user_id"],
                    ["ts", "event_id"], n=_N_ELDER)
    return out.select("user_id", "event_id", "bull_power", "bull_pct")


_ORACLE_ELDER = f"""
WITH base AS (
  SELECT user_id, event_id,
         value,
         list(value) OVER ({_EVENTS_W}
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx
  FROM events
), e AS (
  SELECT user_id, event_id, value,
         {_ema_fold_sql("pfx", _alpha_sql(_N_ELDER))} AS ema
  FROM base
)
SELECT user_id, event_id,
  {round_portable_duck("value - ema")} AS bull_power,
  {round_portable_duck("(value - ema) / ema")} AS bull_pct
FROM e
"""


def _q_chandelier(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = chandelier_exit(load(spark, sf_dir, "events"), "value",
                          ["user_id"], ["ts", "event_id"],
                          n=_N_CHAND, k=_K_CHAND)
    return out.select("user_id", "event_id", "chandelier_long")


_ORACLE_CHANDELIER = f"""
WITH d AS (
  SELECT user_id, event_id, ts, value,
         abs(value - lag(value) OVER ({_EVENTS_W})) AS tr
  FROM events
), s AS (
  SELECT user_id, event_id,
         max(value) OVER w AS mx,
         avg(tr) OVER w AS a,
         count(tr) OVER w AS cnt
  FROM d
  WINDOW w AS ({_EVENTS_W} ROWS BETWEEN {_N_CHAND - 1} PRECEDING
               AND CURRENT ROW)
)
SELECT user_id, event_id,
  {round_portable_duck(
      f"CASE WHEN cnt >= {_N_CHAND} THEN mx - {_K_CHAND!r} * a END")}
    AS chandelier_long
FROM s
"""


def _q_fractals(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = fractals(load(spark, sf_dir, "events"), "value", ["user_id"],
                   ["ts", "event_id"])
    return out.select("user_id", "event_id", "is_fractal_high",
                      "is_fractal_low")


_ORACLE_FRACTALS = f"""
WITH d AS (
  SELECT user_id, event_id, value,
         lag(value, 1) OVER ({_EVENTS_W}) AS l1,
         lag(value, 2) OVER ({_EVENTS_W}) AS l2,
         lead(value, 1) OVER ({_EVENTS_W}) AS f1,
         lead(value, 2) OVER ({_EVENTS_W}) AS f2
  FROM events
)
SELECT user_id, event_id,
  CAST(CASE WHEN l2 IS NOT NULL AND f2 IS NOT NULL
        AND value > l1 AND value > l2
        AND value > f1 AND value > f2 THEN 1 ELSE 0 END AS INT)
    AS is_fractal_high,
  CAST(CASE WHEN l2 IS NOT NULL AND f2 IS NOT NULL
        AND value < l1 AND value < l2
        AND value < f1 AND value < f2 THEN 1 ELSE 0 END AS INT)
    AS is_fractal_low
FROM d
"""


QUERIES: dict = {
    "ind_vortex_events": (_q_vortex, _ORACLE_VORTEX),
    "ind_elder_ray_events": (_q_elder, _ORACLE_ELDER),
    "ind_chandelier_events": (_q_chandelier, _ORACLE_CHANDELIER),
    "ind_fractals_events": (_q_fractals, _ORACLE_FRACTALS),
}
