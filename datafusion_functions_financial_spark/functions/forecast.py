"""Holt linear (double) exponential smoothing — the first DOUBLE-state
recursive kernel in the repo (level + trend evolve together), the
basic short-horizon forecaster a metrics platform runs per series.

Recurrence (seeds ℓ₁ = x₁, b₁ = 0):

    ℓ_t = α·x_t + (1−α)·(ℓ_{t−1} + b_{t−1})
    b_t = β·(ℓ_t − ℓ_{t−1}) + (1−β)·b_{t−1}

``forecast_1 = ℓ + b`` is the one-step-ahead prediction.

Engine parity: a two-component accumulator cannot ride DuckDB's
``list_reduce`` (the fold state must be an element), so the oracle is
a RECURSIVE CTE stepping rn→rn+1 — one iteration per series position,
advancing EVERY series in lockstep. The Python kernel and the SQL
step use the identical floating-point expression tree (α and 1−α
appear literally the same way in both), so level/trend/forecast are
bit-identical before rounding. Cost note: the recursive oracle is
O(max series length) join iterations — fine for the gate, not the
production path (the production path IS this Spark kernel).

Plan shape at scale: one ``plans.series.fold_series`` pass; the
kernel is O(n) per series with O(1) state.

Reference anchor: extends the recursive-indicator family of
src/lib.rs (the reference stops at single-state recurrences).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.series import fold_series, round_portable, round_portable_duck
from ..sources.tables import load

__all__ = ["holt_kernel", "holt_smooth"]

ALPHA = 0.2
BETA = 0.1


def holt_kernel(values: np.ndarray, alpha: float = ALPHA,
                beta: float = BETA):
    """(level, trend) arrays for one series in arrival order."""
    n = values.shape[0]
    lvl_out = np.empty(n)
    trd_out = np.empty(n)
    if n == 0:
        return lvl_out, trd_out
    one_minus_a = 1.0 - alpha
    one_minus_b = 1.0 - beta
    lvl = values[0]
    trd = 0.0
    lvl_out[0], trd_out[0] = lvl, trd
    for i in range(1, n):
        x = values[i]
        lvl_new = alpha * x + one_minus_a * (lvl + trd)
        trd = beta * (lvl_new - lvl) + one_minus_b * trd
        lvl = lvl_new
        lvl_out[i], trd_out[i] = lvl, trd
    return lvl_out, trd_out


def holt_fold2d(M: np.ndarray, alpha: float = ALPHA,
                beta: float = BETA, lengths: np.ndarray | None = None):
    """Row-parallel ``holt_kernel`` over a NaN-padded (G, L) matrix:
    one vectorized step per time index instead of a Python loop per
    series. Per-element op sequence is identical to the scalar kernel
    — bit-identical results (tested), INCLUDING null semantics: an
    in-series NaN propagates to every later level/trend exactly like
    the scalar kernel and the recursive-CTE oracle (ADVICE r05 —
    earlier versions held state across NaNs because pad slots and
    data NaNs were indistinguishable). ``lengths`` (per-row series
    length) separates the two: positions ``>= lengths[g]`` are pad
    (state frozen, output NaN); positions inside the series do plain
    arithmetic, so a data NaN poisons the fold from there on. With
    ``lengths=None`` every column is treated as data."""
    G, L = M.shape
    lvl_out = np.full((G, L), np.nan)
    trd_out = np.full((G, L), np.nan)
    if L == 0 or G == 0:
        return lvl_out, trd_out
    if lengths is None:
        lengths = np.full(G, L, dtype=np.int64)
    one_minus_a = 1.0 - alpha
    one_minus_b = 1.0 - beta
    # Position 0 mirrors the scalar kernel exactly: level echoes the
    # first value (NaN included), trend is 0.0 — a NaN first value
    # poisons the fold from position 1 via plain arithmetic.
    nonempty = lengths > 0
    lvl = M[:, 0].copy()
    trd = np.where(nonempty, 0.0, np.nan)
    lvl_out[:, 0] = np.where(nonempty, lvl, np.nan)
    trd_out[:, 0] = np.where(nonempty, 0.0, np.nan)
    for i in range(1, L):
        x = M[:, i]
        is_data = i < lengths
        lvl_new = alpha * x + one_minus_a * (lvl + trd)
        trd_new = beta * (lvl_new - lvl) + one_minus_b * trd
        lvl = np.where(is_data, lvl_new, lvl)
        trd = np.where(is_data, trd_new, trd)
        lvl_out[:, i] = np.where(is_data, lvl_new, np.nan)
        trd_out[:, i] = np.where(is_data, trd_new, np.nan)
    return lvl_out, trd_out


def holt_smooth(df: DataFrame, value_col: str, keys: Sequence[str],
                order: Sequence[str], alpha: float = ALPHA,
                beta: float = BETA) -> DataFrame:
    """Append ``level``, ``trend``, ``forecast_1`` per series.

    One ``plans.series.fold_series`` pass: every series in a partition
    folded in LOCKSTEP by ``holt_fold2d``."""
    def fold(mats, lens):
        level, trend = holt_fold2d(mats[value_col], alpha, beta, lengths=lens)
        return {"level": level, "trend": trend}

    out = fold_series(df, keys, order, [value_col], ["level", "trend"], fold)
    return out.withColumn("forecast_1",
                          F.col("level") + F.col("trend"))


# --------------------------------------------------------------------------
# Gate query
# --------------------------------------------------------------------------


def _q_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = holt_smooth(load(spark, sf_dir, "events"), "value",
                      ["user_id"], ["ts", "event_id"])
    return out.select(
        "user_id", "event_id",
        round_portable(F.col("level")).alias("level"),
        round_portable(F.col("trend")).alias("trend"),
        round_portable(F.col("forecast_1")).alias("forecast_1"),
    )


_A, _B = "0.2", "0.1"
_LVL_STEP = f"{_A}*b.value + (1.0 - {_A})*(h.lvl + h.trd)"

_ORACLE_HOLT = f"""
WITH RECURSIVE base AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), holt AS (
  SELECT user_id, event_id, value, rn,
         value AS lvl, CAST(0.0 AS DOUBLE) AS trd
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.event_id, b.value, b.rn,
         {_LVL_STEP} AS lvl,
         {_B}*(({_LVL_STEP}) - h.lvl) + (1.0 - {_B})*h.trd AS trd
  FROM base b JOIN holt h
    ON b.user_id = h.user_id AND b.rn = h.rn + 1
)
SELECT user_id, event_id,
  {round_portable_duck("lvl")} AS level,
  {round_portable_duck("trd")} AS trend,
  {round_portable_duck("lvl + trd")} AS forecast_1
FROM holt
"""


# --------------------------------------------------------------------------
# Theta-method forecast (simplified Theta(0, 2), horizon 1)
# --------------------------------------------------------------------------

THETA_ALPHA = 0.5
_QT = 10 ** 8
_QTF = float(_QT)
US_PER_DAY = 86_400_000_000


def theta_forecast(df: DataFrame, us_col: str, value_col: str,
                   key_col: str,
                   alpha: float = THETA_ALPHA) -> DataFrame:
    """(key, n_days, slope, ses_level, theta_forecast): the
    assessable-by-hand core of the Theta method over the key's DAILY
    mean series — an OLS trend slope on the day index plus SES
    (seed = first value) on the series, combined as
    ``forecast = ses_level + slope / 2`` for horizon 1.

    Determinism: daily means come from exact quantized sums; the OLS
    sums quantize per term (day indexes are exact integers); the SES
    fold is the identical sequential expression tree on both engines
    (Spark ``aggregate`` over the day-sorted array == DuckDB
    ``list_reduce`` over ``list(... ORDER BY day)``, which seeds
    from the first element exactly like our explicit seed).

    Plan shape at scale: one hash aggregate to (key, day) rows, one
    per-key aggregation whose state is O(days-per-key) — bounded by
    calendar length, not row count."""
    a = float(alpha)
    daily = (
        df.selectExpr(f"{key_col} AS __k",
                      f"({us_col}) DIV {US_PER_DAY} AS __d",
                      f"{value_col} AS __v")
        .groupBy("__k", "__d")
        .agg(F.count(F.lit(1)).alias("__c"),
             F.sum(F.expr(
                 f"CAST(round(__v * {_QT}) AS BIGINT)")).alias("__s"))
        .selectExpr(
            "__k", "__d",
            f"CAST(__s AS DOUBLE) / (CAST(__c AS DOUBLE) "
            f"* {_QTF!r}) AS __m")
    )
    idx = daily.withColumn("__t", F.expr(
        "row_number() OVER (PARTITION BY __k ORDER BY __d) - 1"))
    sums = idx.groupBy("__k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("__t").cast("bigint").alias("__st"),
        F.sum(F.expr("__t * __t")).cast("bigint").alias("__stt"),
        F.sum(F.expr(
            f"CAST(round(__m * {_QT}) AS BIGINT)")).alias("__sm"),
        F.sum(F.expr(
            f"CAST(round(__t * __m * {_QT}) AS BIGINT)")).alias("__stm"),
        F.expr(
            "transform(array_sort(collect_list(struct(__d, __m))), "
            "s -> s.__m)").alias("__arr"),
    )
    ses = (f"aggregate(slice(__arr, 2, size(__arr) - 1), "
           f"CAST(__arr[0] AS DOUBLE), "
           f"(acc, x) -> {a!r} * x + (1.0 - {a!r}) * acc)")
    b = (f"((CAST(n_days AS DOUBLE) * CAST(__stm AS DOUBLE) "
         f"- CAST(__st AS DOUBLE) * CAST(__sm AS DOUBLE)) "
         f"/ ({_QTF!r} * (CAST(n_days AS DOUBLE) "
         f"* CAST(__stt AS DOUBLE) "
         f"- CAST(__st AS DOUBLE) * CAST(__st AS DOUBLE))))")
    return sums.filter(F.col("n_days") > 1).select(
        F.col("__k").alias(key_col), "n_days",
        round_portable(F.expr(b), 6).alias("slope"),
        round_portable(F.expr(ses), 6).alias("ses_level"),
        round_portable(F.expr(
            f"({ses}) + ({b}) / 2.0"), 6).alias("theta_forecast"),
    )


def _q_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn(
        "__us", F.expr("ts DIV 1000"))
    return theta_forecast(ev, "__us", "value", "event_type")


_T_SES = (f"list_reduce(arr, (acc, x) -> {THETA_ALPHA!r} * x "
          f"+ (1.0 - {THETA_ALPHA!r}) * acc)")
_T_B = (f"((CAST(n_days AS DOUBLE) * CAST(stm AS DOUBLE) "
        f"- CAST(st AS DOUBLE) * CAST(sm AS DOUBLE)) "
        f"/ ({_QTF!r} * (CAST(n_days AS DOUBLE) * CAST(stt AS DOUBLE) "
        f"- CAST(st AS DOUBLE) * CAST(st AS DOUBLE))))")

_ORACLE_THETA = f"""
WITH daily AS (
  SELECT event_type AS k, epoch_us(ts) // {US_PER_DAY} AS d,
    CAST(sum(CAST(round(value * {_QT}) AS BIGINT)) AS DOUBLE)
      / (CAST(count(*) AS DOUBLE) * {_QTF!r}) AS m
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT k, d, m,
    row_number() OVER (PARTITION BY k ORDER BY d) - 1 AS t
  FROM daily
), sums AS (
  SELECT k,
    CAST(count(*) AS BIGINT) AS n_days,
    CAST(sum(t) AS BIGINT) AS st,
    CAST(sum(t * t) AS BIGINT) AS stt,
    CAST(sum(CAST(round(m * {_QT}) AS BIGINT)) AS BIGINT) AS sm,
    CAST(sum(CAST(round(t * m * {_QT}) AS BIGINT)) AS BIGINT) AS stm,
    list(m ORDER BY d) AS arr
  FROM idx GROUP BY 1
)
SELECT k AS event_type, n_days,
  {round_portable_duck(_T_B, 6)} AS slope,
  {round_portable_duck(_T_SES, 6)} AS ses_level,
  {round_portable_duck(f"({_T_SES}) + ({_T_B}) / 2.0", 6)}
    AS theta_forecast
FROM sums WHERE n_days > 1
"""


QUERIES: dict = {
    "q_holt_forecast_events": (_q_holt, _ORACLE_HOLT),
    "q_theta_forecast_events": (_q_theta, _ORACLE_THETA),
}
