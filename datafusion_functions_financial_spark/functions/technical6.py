"""Tier-6 technical indicators: Kaufman's Adaptive Moving Average
(KAMA), the Hull Moving Average (HMA), and close-to-close-free
volatility estimators (Parkinson, Garman–Klass) over daily bars —
the adaptive/low-lag smoothing family on top of tiers 1–5.

Engine exactness:
- KAMA's efficiency ratio and smoothing constant are window
  expressions (identical text both engines); the recursion
  ``kama_t = kama_{t-1} + sc_t * (x_t - kama_{t-1})`` runs through a
  row-parallel two-column fold (the ``holt_fold2d`` pattern) whose
  per-element op sequence matches the recursive-CTE oracle.
- HMA is fully closed-form: weighted-moving-average numerators are
  exact BIGINT dot products of 1e8-quantized prices with integer
  ramp weights (no float sums), full windows only.
- Parkinson/GK average per-bar terms as 1e8-quantized BIGINTs; the
  ``ln`` inputs are identical doubles (libm parity established by
  the bar-range volatility family).

Plan shape: one shuffle on the series key for the windows; KAMA adds
the one ``plans.series.fold_series`` pass on the same key; the
volatility pair is bars (hash agg) -> per-key agg, both map-side
combinable.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.series import (
    ROUND_DP, fold_series, round_null, round_portable, round_portable_duck,
)
from ..sources.tables import load
from .bars import ohlcv_bars

__all__ = ["kama", "hull_ma", "bar_volatility_pk_gk",
           "adaptive_ema_fold2d"]

Q = 10 ** 8
KAMA_N = 10            # efficiency-ratio lookback
KAMA_FAST, KAMA_SLOW = 3, 31   # alpha = 2/(n+1) endpoints
HMA_N = 16             # full window; sqrt-window = 4
US_PER_DAY = 86_400_000_000

# Smoothing constant from the efficiency ratio, integer-ratio doubles
# only: sc = (er * (2/3 - 2/31) + 2/31)^2.
_SC = ("(({er}) * (CAST(2 AS DOUBLE) / {f} - CAST(2 AS DOUBLE) / {s}) "
       "+ CAST(2 AS DOUBLE) / {s})")


def adaptive_ema_fold2d(X: np.ndarray, A: np.ndarray,
                        lengths: np.ndarray):
    """Row-parallel adaptive EMA over NaN-padded (G, L) matrices:
    ``state_0 = x_0``; ``state_t = state + a_t * (x_t - state)``.
    ``lengths`` separates pad slots (state frozen, output NaN) from
    data, so in-series NaNs poison the fold like a scalar loop
    would (the ``holt_fold2d`` convention)."""
    G, L = X.shape
    out = np.full((G, L), np.nan)
    if L == 0 or G == 0:
        return out
    state = X[:, 0].copy()
    out[:, 0] = np.where(lengths > 0, state, np.nan)
    for i in range(1, L):
        is_data = i < lengths
        nxt = state + A[:, i] * (X[:, i] - state)
        state = np.where(is_data, nxt, state)
        out[:, i] = np.where(is_data, nxt, np.nan)
    return out


def kama(df: DataFrame, value_col: str, keys: list[str],
         order: list[str], out_col: str = "kama") -> DataFrame:
    """Append ``out_col``: KAMA(10, 3, 31) per series. The efficiency
    ratio adapts its lookback for the first rows (|x_t - x_{t-k}| /
    sum of |one-step moves| over the same k <= 10 steps; er = 1 when
    the move sum is 0 or the row is first)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    wch = w.rowsBetween(-KAMA_N, 0)
    wvol = w.rowsBetween(-(KAMA_N - 1), 0)
    er = ("CASE WHEN __vol IS NULL OR __vol = CAST(0 AS DOUBLE) "
          "THEN CAST(1 AS DOUBLE) ELSE __chg / __vol END")
    sc = _SC.format(er=er, f=KAMA_FAST, s=KAMA_SLOW)
    prepared = (
        df.withColumn("__d", F.expr(
            f"abs({value_col} - lag({value_col}) OVER "
            f"(PARTITION BY {', '.join(keys)} "
            f"ORDER BY {', '.join(order)}))"))
        .withColumn("__chg", F.abs(
            F.col(value_col) - F.first(value_col).over(wch)))
        .withColumn("__vol", F.sum("__d").over(wvol))
        .withColumn("__sc", F.expr(f"({sc}) * ({sc})"))
    )

    return fold_series(
        prepared, keys, order, [value_col, "__sc"], [out_col],
        lambda mats, lens: {out_col: adaptive_ema_fold2d(
            mats[value_col], mats["__sc"], lens)},
    ).drop("__d", "__chg", "__vol", "__sc")


def hull_ma(df: DataFrame, value_col: str, keys: list[str],
            order: list[str], out_col: str = "hma") -> DataFrame:
    """Append ``out_col``: HMA(16) = WMA_4(2*WMA_8 - WMA_16), full
    windows only (NULL before row 19 of a series). All weighted sums
    are exact integer dot products of 1e8-quantized prices with ramp
    weights; the intermediate raw series re-quantizes to BIGINT so
    the outer WMA is integer-exact too."""
    okeys = ", ".join(keys)
    oorder = ", ".join(order)
    w = Window.partitionBy(*keys).orderBy(*order)

    def wma_terms(src_q: str, n: int, rn: str):
        """Exact WMA numerator over the trailing-n frame: weights
        1..n = (rn_j - rn_t + n), so num = sum(q*rn) - (rn_t - n) *
        sum(q) over the frame — two BIGINT window sums."""
        frame = (f"(PARTITION BY {okeys} ORDER BY {oorder} "
                 f"ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)")
        return (f"(sum({src_q} * {rn}) OVER {frame} "
                f"- ({rn} - {n}) * sum({src_q}) OVER {frame})")

    den8 = 8 * 9 // 2
    den16 = 16 * 17 // 2
    den4 = 4 * 5 // 2
    out = (
        df.withColumn("__q", F.expr(
            f"CAST(round({value_col} * {Q}) AS BIGINT)"))
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__raw", F.expr(
            f"CASE WHEN __rn >= {HMA_N} THEN "
            f"CAST(round(CAST(2 AS DOUBLE) "
            f"* CAST({wma_terms('__q', 8, '__rn')} AS DOUBLE) / {den8} "
            f"- CAST({wma_terms('__q', 16, '__rn')} AS DOUBLE) / {den16}"
            f") AS BIGINT) END"))
        .withColumn("__rawn", F.expr(
            f"count(__raw) OVER (PARTITION BY {okeys} ORDER BY {oorder} "
            f"ROWS BETWEEN {3} PRECEDING AND CURRENT ROW)"))
        .withColumn(out_col, F.expr(
            f"CASE WHEN __rawn = 4 THEN "
            f"CAST({wma_terms('__raw', 4, '__rn')} AS DOUBLE) "
            f"/ ({den4} * CAST({Q} AS DOUBLE)) END"))
        .drop("__q", "__raw", "__rawn")
    )
    return out


def bar_volatility_pk_gk(df: DataFrame, us_col: str, value_col: str,
                         keys: list[str]) -> DataFrame:
    """(keys..., n_bars, parkinson_vol, gk_vol): per-key daily-bar
    volatility — Parkinson ``ln(H/L)^2 / (4 ln 2)`` and Garman–Klass
    ``0.5 ln(H/L)^2 - (2 ln 2 - 1) ln(C/O)^2`` averaged over bars
    (vol = sqrt of the mean term). Bars with a non-positive low or
    open are excluded (log-range undefined)."""
    bars = ohlcv_bars(df, us_col, value_col, keys, bar_seconds=86400,
                      ts_unit="us").filter(
        (F.col("low") > 0) & (F.col("open") > 0))
    pk = ("ln(high / low) * ln(high / low) "
          "/ (CAST(4 AS DOUBLE) * ln(CAST(2 AS DOUBLE)))")
    gk = ("CAST(1 AS DOUBLE) / 2 * ln(high / low) * ln(high / low) "
          "- (CAST(2 AS DOUBLE) * ln(CAST(2 AS DOUBLE)) - 1) "
          "* ln(close / open) * ln(close / open)")
    qterm = f"CAST(round(({{t}}) * {Q}) AS BIGINT)"
    return (
        bars.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bars"),
            F.sum(F.expr(qterm.format(t=pk))).alias("__pk"),
            F.sum(F.expr(qterm.format(t=gk))).alias("__gk"),
        )
        .select(
            *keys, "n_bars",
            round_portable(F.expr(
                f"sqrt(greatest(CAST(__pk AS DOUBLE) "
                f"/ (CAST(n_bars AS DOUBLE) * {float(Q)!r}), "
                f"CAST(0 AS DOUBLE)))"), 6).alias("parkinson_vol"),
            round_portable(F.expr(
                f"sqrt(greatest(CAST(__gk AS DOUBLE) "
                f"/ (CAST(n_bars AS DOUBLE) * {float(Q)!r}), "
                f"CAST(0 AS DOUBLE)))"), 6).alias("gk_vol"),
        )
    )


# --------------------------------------------------------------------------
# Gate queries (events series: per-user, ordered by ts, event_id)
# --------------------------------------------------------------------------


def _q_kama(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = kama(load(spark, sf_dir, "events"), "value",
               ["user_id"], ["ts", "event_id"])
    return out.select(
        "user_id", "event_id",
        round_null(F.col("kama")).alias("kama"),
    )


_ER_DUCK = ("CASE WHEN vol IS NULL OR vol = CAST(0 AS DOUBLE) "
            "THEN CAST(1 AS DOUBLE) ELSE chg / vol END")
_SC_DUCK = _SC.format(er=_ER_DUCK, f=KAMA_FAST, s=KAMA_SLOW)

_ORACLE_KAMA = f"""
WITH RECURSIVE base AS (
  SELECT user_id, event_id, value,
         row_number() OVER w AS rn,
         abs(value - first_value(value) OVER
             (w ROWS BETWEEN {KAMA_N} PRECEDING AND CURRENT ROW))
           AS chg,
         sum(d) OVER (w ROWS BETWEEN {KAMA_N - 1} PRECEDING
                      AND CURRENT ROW) AS vol
  FROM (
    SELECT user_id, event_id, ts, value,
           abs(value - lag(value) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)) AS d
    FROM events
  ) _d
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sc AS (
  SELECT user_id, event_id, value, rn,
         ({_SC_DUCK}) * ({_SC_DUCK}) AS s
  FROM base
), rec AS (
  SELECT user_id, event_id, value, rn, value AS k
  FROM sc WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.event_id, b.value, b.rn,
         r.k + b.s * (b.value - r.k) AS k
  FROM sc b JOIN rec r
    ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT user_id, event_id, round(k, {ROUND_DP}) AS kama
FROM rec
"""


def _q_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = hull_ma(load(spark, sf_dir, "events"), "value",
                  ["user_id"], ["ts", "event_id"])
    return out.select(
        "user_id", "event_id",
        round_portable(F.col("hma")).alias("hma"),
    )


def _hma_wma_duck(src: str, n: int) -> str:
    return (f"(sum({src} * rn) OVER (w ROWS BETWEEN {n - 1} PRECEDING "
            f"AND CURRENT ROW) "
            f"- (rn - {n}) * sum({src}) OVER (w ROWS BETWEEN {n - 1} "
            f"PRECEDING AND CURRENT ROW))")


_ORACLE_HULL = f"""
WITH base AS (
  SELECT user_id, event_id, ts,
         CAST(round(value * {Q}) AS BIGINT) AS q,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), raw AS (
  SELECT user_id, event_id, ts, rn,
         CASE WHEN rn >= {HMA_N} THEN
           CAST(round(CAST(2 AS DOUBLE)
             * CAST({_hma_wma_duck('q', 8)} AS DOUBLE) / {8 * 9 // 2}
             - CAST({_hma_wma_duck('q', 16)} AS DOUBLE) / {16 * 17 // 2}
           ) AS BIGINT) END AS rawq
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), hull AS (
  SELECT user_id, event_id, rn,
         count(rawq) OVER (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
           AS rawn,
         {_hma_wma_duck('rawq', 4)} AS num4
  FROM raw
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id,
  CASE WHEN rawn = 4 THEN {round_portable_duck(
      f"CAST(num4 AS DOUBLE) / ({4 * 5 // 2} * CAST({Q} AS DOUBLE))")}
  END AS hma
FROM hull
"""


def _q_barvol_pkgk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn(
        "__us", F.expr("ts DIV 1000"))
    return bar_volatility_pk_gk(ev, "__us", "value", ["user_id"])


_PK_DUCK = ("ln(high / low) * ln(high / low) "
            "/ (CAST(4 AS DOUBLE) * ln(CAST(2 AS DOUBLE)))")
_GK_DUCK = ("CAST(1 AS DOUBLE) / 2 * ln(high / low) * ln(high / low) "
            "- (CAST(2 AS DOUBLE) * ln(CAST(2 AS DOUBLE)) - 1) "
            "* ln(close / open) * ln(close / open)")

_ORACLE_BARVOL_PKGK = f"""
WITH bars AS (
  SELECT user_id,
         (epoch_us(ts) // {US_PER_DAY}) * 86400 AS bar_start,
         arg_min(value, epoch_us(ts)) AS open,
         max(value) AS high,
         min(value) AS low,
         arg_max(value, epoch_us(ts)) AS close
  FROM events GROUP BY 1, 2
), terms AS (
  SELECT user_id,
         CAST(round(({_PK_DUCK}) * {Q}) AS BIGINT) AS pk,
         CAST(round(({_GK_DUCK}) * {Q}) AS BIGINT) AS gk
  FROM bars WHERE low > 0 AND open > 0
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_bars,
  {round_portable_duck(
      f"sqrt(greatest(CAST(sum(pk) AS DOUBLE) "
      f"/ (CAST(count(*) AS DOUBLE) * {float(Q)!r}), "
      f"CAST(0 AS DOUBLE)))", 6)} AS parkinson_vol,
  {round_portable_duck(
      f"sqrt(greatest(CAST(sum(gk) AS DOUBLE) "
      f"/ (CAST(count(*) AS DOUBLE) * {float(Q)!r}), "
      f"CAST(0 AS DOUBLE)))", 6)} AS gk_vol
FROM terms GROUP BY 1
"""


QUERIES: dict = {
    "ind_kama_events": (_q_kama, _ORACLE_KAMA),
    "ind_hull_ma_events": (_q_hull, _ORACLE_HULL),
    "vol_parkinson_gk_events": (_q_barvol_pkgk, _ORACLE_BARVOL_PKGK),
}
