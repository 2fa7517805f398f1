"""Third tier of technical indicators: TRIX, PPO, ADX (+DI/−DI), and
the Aroon oscillator.

Extends the reference's sma/ema/rsi/macd family
(``/root/reference/src/functions/``) along the same path as
``technical.py``/``technical2.py``. Two execution shapes:

- **Recursive chains (TRIX, PPO, ADX)** run through
  ``plans.series.fold_series``, with the folds ROW-PARALLEL across
  series (``kernels.ema_fold2d``). Per-element expression trees
  match the DuckDB oracle lambdas bit-for-bit. Hot single-key series
  can be bucketed through ``functions/segmented.py`` like the A1-A4
  kernels. Values must be null-free (the oracles' prefix folds have
  no null-skip branch; events.value is).
- **Frame-local (Aroon)** is pure Catalyst: a ROWS frame
  ``collect_list`` plus an indexed fold to locate the latest high/low
  — no Python anywhere in the plan.

Determinism: recursive outputs are bit-identical by construction
(sequential folds, same tree both engines); frame folds follow the
ordered-fold rule; everything rounds through ``round_portable``.
Undefined-lag rows are FILTERED before any recursion (Spark
``collect_list`` drops NULLs, DuckDB ``list()`` keeps them — filtering
keeps both engines' lists element-aligned, as in ``risk.py``).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.indicator_queries import _ema_fold_sql
from ..plans.series import (
    fold_series, round_portable, round_portable_duck, row_frame,
)
from ..sources.tables import load

__all__ = ["trix", "ppo", "adx", "aroon"]


def _partitioned(df: DataFrame, value_col: str, keys: Sequence[str],
                 order: Sequence[str], new_cols: Sequence[str],
                 matrix_fn) -> DataFrame:
    """``fold_series`` over ``value_col``; NaN outputs map to NULL and
    results round portably."""
    out = fold_series(df, keys, order, [value_col], new_cols,
                      lambda mats, lens: matrix_fn(mats[value_col], lens))
    for c in new_cols:
        out = out.withColumn(
            c, round_portable(F.when(~F.isnan(F.col(c)), F.col(c)))
        )
    return out


def trix(df: DataFrame, value_col: str, keys: Sequence[str],
         order: Sequence[str], n: int = 12) -> DataFrame:
    """TRIX: 1-period percent rate of change of a triple-smoothed EMA
    (alpha = 2/(n+1), each stage seeded with its first input, per the
    reference's ema semantics). First row of each key is NULL; the
    division is guarded (NULL) if the previous triple-EMA is 0.
    """
    alpha = 2.0 / (float(n) + 1.0)

    def fn(M, lens):
        from .kernels import ema_fold2d
        e3 = ema_fold2d(ema_fold2d(ema_fold2d(M, alpha), alpha), alpha)
        out = np.full(M.shape, np.nan)
        if M.shape[1] > 1:
            prev = e3[:, :-1]
            with np.errstate(divide="ignore", invalid="ignore"):
                out[:, 1:] = np.where(
                    prev != 0.0,
                    100.0 * (e3[:, 1:] / prev - 1.0), np.nan,
                )
        return {"trix": out}

    return _partitioned(df, value_col, keys, order, ["trix"], fn)


def ppo(df: DataFrame, value_col: str, keys: Sequence[str],
        order: Sequence[str], fast: int = 12,
        slow: int = 26) -> DataFrame:
    """Percentage Price Oscillator: ``100 * (ema_fast - ema_slow) /
    ema_slow`` — MACD's scale-free sibling (comparable across
    instruments, which is what a cross-sectional screen ranks on).
    NULL where the slow EMA is 0.
    """
    af = 2.0 / (float(fast) + 1.0)
    aslow = 2.0 / (float(slow) + 1.0)

    def fn(M, lens):
        from .kernels import ema_fold2d
        ef = ema_fold2d(M, af)
        es = ema_fold2d(M, aslow)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(es != 0.0, 100.0 * (ef - es) / es, np.nan)
        return {"ppo": out}

    return _partitioned(df, value_col, keys, order, ["ppo"], fn)


def adx(df: DataFrame, value_col: str, keys: Sequence[str],
        order: Sequence[str], n: int = 14) -> DataFrame:
    """ADX with ±DI, single-price variant: with one price per tick (no
    high/low, as in the reference's series), directional movement
    degrades to ``+DM = max(Δ, 0)``, ``−DM = max(−Δ, 0)`` and true
    range to ``|Δ|``. Each is Wilder-smoothed (EMA, alpha = 1/n,
    seeded with its first element); ``±DI = 100 * smoothed_DM / ATR``
    (NULL while ATR is 0, i.e. a leading flat stretch); ``DX = 100 *
    |DI+ − DI−| / (DI+ + DI−)`` defined as 0 in the flat/degenerate
    case so the final ADX recursion (Wilder EMA over DX) stays total.
    Rows with an undefined Δ (first of each key) are dropped.
    Like the reference's ema, values emit from the seed row; treat the
    first ~3n rows per key as warm-up.
    """
    alpha = 1.0 / float(n)

    def fn(M, lens):
        from .kernels import ema_fold2d
        G, L = M.shape
        shape = (G, max(L - 1, 0))
        if shape[1] == 0:
            nanm = np.full((G, L), np.nan)
            return {"di_plus": nanm, "di_minus": nanm.copy(),
                    "adx": nanm.copy()}
        d = M[:, 1:] - M[:, :-1]          # NaN on padded cells
        valid = ~np.isnan(d)
        dmp = np.maximum(d, 0.0)
        dmm = np.maximum(-d, 0.0)
        tr = np.abs(d)
        smp = ema_fold2d(dmp, alpha)
        smm = ema_fold2d(dmm, alpha)
        smt = ema_fold2d(tr, alpha)
        with np.errstate(divide="ignore", invalid="ignore"):
            dip = np.where(smt != 0.0, 100.0 * smp / smt, np.nan)
            dim = np.where(smt != 0.0, 100.0 * smm / smt, np.nan)
            ssum = dip + dim
            dx = np.where(
                ~np.isnan(dip) & (ssum != 0.0),
                100.0 * np.abs(dip - dim) / ssum,
                0.0,
            )
        # keep padding NaN so the adx fold skips it (within a series
        # dx is total, matching the per-series recurrence exactly)
        dx = np.where(valid, dx, np.nan)
        a = ema_fold2d(dx, alpha)
        pad = np.full((G, 1), np.nan)
        return {
            "di_plus": np.concatenate([pad, dip], axis=1),
            "di_minus": np.concatenate([pad, dim], axis=1),
            "adx": np.concatenate([pad, a], axis=1),
        }

    out = _partitioned(df, value_col, keys, order,
                       ["di_plus", "di_minus", "adx"], fn)
    # the Δ-undefined first row carries only NULLs — drop it so the
    # output matches the oracle's filtered relation row-for-row
    return out.filter(F.col("adx").isNotNull() | F.col("di_plus").isNotNull()
                      | F.col("di_minus").isNotNull())


def aroon(df: DataFrame, value_col: str, keys: Sequence[str],
          order: Sequence[str], n: int = 25) -> DataFrame:
    """Aroon oscillator over the last ``n`` rows:
    ``aroon_up = 100 * pos_of_latest_high / n`` (pos is 1-based from
    the frame start, so a fresh high gives 100 and an n-bar-old high
    gives 100/n), ``aroon_down`` likewise for the low, and
    ``aroon_osc = up − down``. Ties resolve to the EARLIEST bar in the
    frame: both engines use first-match position lookup
    (``array_position`` / ``list_position``) — an indexed-fold
    last-match variant hit a DuckDB vectorized-lambda outer-column
    capture misalignment (full-table runs returned a different index
    than the same query filtered to one row), so the oracle avoids
    lambdas here entirely. NULL until the frame is full. Pure Catalyst
    — no Python stage.
    """
    w = row_frame(keys, order, n)
    nf = float(n)
    staged = (
        df.withColumn("__arr", F.collect_list(F.col(value_col)).over(w))
        .withColumn("__imx", F.expr(
            "array_position(__arr, array_max(__arr))"))
        .withColumn("__imn", F.expr(
            "array_position(__arr, array_min(__arr))"))
    )
    guard = f"size(__arr) >= {n}"
    up = f"CASE WHEN {guard} THEN 100.0 * __imx / {nf!r} END"
    dn = f"CASE WHEN {guard} THEN 100.0 * __imn / {nf!r} END"
    osc = (f"CASE WHEN {guard} THEN 100.0 * __imx / {nf!r} "
           f"- 100.0 * __imn / {nf!r} END")
    return (
        staged
        .withColumn("aroon_up", round_portable(F.expr(up)))
        .withColumn("aroon_down", round_portable(F.expr(dn)))
        .withColumn("aroon_osc", round_portable(F.expr(osc)))
        .drop("__arr", "__imx", "__imn")
    )


# ---------------------------------------------------------------------------
# Gate queries (R05 queue). Events series: strictly positive values,
# ~66-99 rows/user at every sf, so n=25 frames and 3n warm-ups fill.
# ---------------------------------------------------------------------------

_EVENTS_W = "PARTITION BY user_id ORDER BY ts, event_id"
_PFX = f"WINDOW pfx AS ({_EVENTS_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"


_TRIX_N = 12
_TRIX_A = f"{2.0 / (_TRIX_N + 1.0)!r}"


def _q_trix(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = trix(load(spark, sf_dir, "events"), "value",
               ["user_id"], ["ts", "event_id"], n=_TRIX_N)
    return out.select("user_id", "event_id", "trix")


_ORACLE_TRIX = f"""
WITH e1 AS (
  SELECT user_id, event_id, ts,
         {_ema_fold_sql('list(value) OVER pfx', _TRIX_A)} AS ema1
  FROM events {_PFX}
), e2 AS (
  SELECT user_id, event_id, ts,
         {_ema_fold_sql('list(ema1) OVER pfx', _TRIX_A)} AS ema2
  FROM e1 {_PFX}
), e3 AS (
  SELECT user_id, event_id, ts,
         {_ema_fold_sql('list(ema2) OVER pfx', _TRIX_A)} AS ema3
  FROM e2 {_PFX}
), l AS (
  SELECT user_id, event_id, ema3,
         lag(ema3) OVER ({_EVENTS_W}) AS p3
  FROM e3
)
SELECT user_id, event_id,
  {round_portable_duck(
      "CASE WHEN p3 IS NOT NULL AND p3 != 0.0 "
      "THEN 100.0 * (ema3 / p3 - 1.0) END")} AS trix
FROM l
"""

_PPO_F = 12
_PPO_S = 26
_PPO_AF = f"{2.0 / (_PPO_F + 1.0)!r}"
_PPO_AS = f"{2.0 / (_PPO_S + 1.0)!r}"


def _q_ppo(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ppo(load(spark, sf_dir, "events"), "value",
              ["user_id"], ["ts", "event_id"], fast=_PPO_F, slow=_PPO_S)
    return out.select("user_id", "event_id", "ppo")


_ORACLE_PPO = f"""
WITH t AS (
  SELECT user_id, event_id,
         {_ema_fold_sql('list(value) OVER pfx', _PPO_AF)} AS ef,
         {_ema_fold_sql('list(value) OVER pfx', _PPO_AS)} AS es
  FROM events {_PFX}
)
SELECT user_id, event_id,
  {round_portable_duck(
      "CASE WHEN es != 0.0 THEN 100.0 * (ef - es) / es END")} AS ppo
FROM t
"""

_ADX_N = 14
_ADX_A = f"{1.0 / float(_ADX_N)!r}"


def _q_adx(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = adx(load(spark, sf_dir, "events"), "value",
              ["user_id"], ["ts", "event_id"], n=_ADX_N)
    return out.select("user_id", "event_id", "di_plus", "di_minus", "adx")


_ORACLE_ADX = f"""
WITH r AS (
  SELECT user_id, event_id, ts,
         value - lag(value) OVER ({_EVENTS_W}) AS d
  FROM events
), f AS (
  SELECT user_id, event_id, ts,
         greatest(d, 0.0) AS dmp, greatest(-d, 0.0) AS dmm, abs(d) AS tr
  FROM r WHERE d IS NOT NULL
), s AS (
  SELECT user_id, event_id, ts,
         {_ema_fold_sql('list(dmp) OVER pfx', _ADX_A)} AS smp,
         {_ema_fold_sql('list(dmm) OVER pfx', _ADX_A)} AS smm,
         {_ema_fold_sql('list(tr) OVER pfx', _ADX_A)} AS smt
  FROM f {_PFX}
), x AS (
  SELECT user_id, event_id, ts,
         CASE WHEN smt != 0.0 THEN 100.0 * smp / smt END AS dip,
         CASE WHEN smt != 0.0 THEN 100.0 * smm / smt END AS dim
  FROM s
), x2 AS (
  SELECT user_id, event_id, ts, dip, dim,
         CASE WHEN dip IS NOT NULL AND (dip + dim) != 0.0
              THEN 100.0 * abs(dip - dim) / (dip + dim)
              ELSE 0.0 END AS dx
  FROM x
), a AS (
  SELECT user_id, event_id, dip, dim,
         {_ema_fold_sql('list(dx) OVER pfx', _ADX_A)} AS adx_raw
  FROM x2 {_PFX}
)
SELECT user_id, event_id,
  {round_portable_duck("dip")} AS di_plus,
  {round_portable_duck("dim")} AS di_minus,
  {round_portable_duck("adx_raw")} AS adx
FROM a
"""


def _q_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = aroon(load(spark, sf_dir, "events"), "value",
                ["user_id"], ["ts", "event_id"], n=25)
    return out.select("user_id", "event_id",
                      "aroon_up", "aroon_down", "aroon_osc")


_AROON_N = 25
_ARN = f"{float(_AROON_N)!r}"

_ORACLE_AROON = f"""
WITH t AS (
  SELECT user_id, event_id,
         list(value) OVER w AS arr
  FROM events
  WINDOW w AS ({_EVENTS_W}
               ROWS BETWEEN {_AROON_N - 1} PRECEDING AND CURRENT ROW)
), i AS (
  SELECT user_id, event_id, arr,
         list_position(arr, list_max(arr)) AS imx,
         list_position(arr, list_min(arr)) AS imn
  FROM t
)
SELECT user_id, event_id,
  {round_portable_duck(
      f"CASE WHEN len(arr) >= {_AROON_N} "
      f"THEN 100.0 * imx / {_ARN} END")} AS aroon_up,
  {round_portable_duck(
      f"CASE WHEN len(arr) >= {_AROON_N} "
      f"THEN 100.0 * imn / {_ARN} END")} AS aroon_down,
  {round_portable_duck(
      f"CASE WHEN len(arr) >= {_AROON_N} "
      f"THEN 100.0 * imx / {_ARN} - 100.0 * imn / {_ARN} END"
  )} AS aroon_osc
FROM i
"""


QUERIES: dict = {
    "ind_trix_events": (_q_trix, _ORACLE_TRIX),
    "ind_ppo_events": (_q_ppo, _ORACLE_PPO),
    "ind_adx_events": (_q_adx, _ORACLE_ADX),
    "ind_aroon_events": (_q_aroon, _ORACLE_AROON),
}
