"""Rolling tail-risk statistics: historical VaR/CVaR, Sortino ratio,
and the Ulcer index.

Extends the rolling-stat family (``rollstats.py`` drawdown/volatility,
``rollstats2.py`` beta/Sharpe/moments) with the downside-risk measures
a risk pipeline computes per instrument. The reference
(``/root/reference/src/functions/``) stops at sma/ema/rsi/macd; these
follow the same extension path as ``technical.py``.

Scale shape: identical to every green rolling op — pure Catalyst
ROWS-frame windows over the series key (one hash shuffle, no Python),
with per-row cost O(n log n) for the sort-based quantile (n = frame
length, tens of rows). At 100 TB this parallelizes per key like any
Spark window; hot single-key series go through
``functions/segmented.py`` bucketing like the indicator kernels.

Determinism across engines:

- the historical quantile is an ORDER STATISTIC of the sorted frame
  (no interpolation): ``array_sort`` (Spark) and ``list_sort``
  (DuckDB) sort doubles identically, and element k of the same sorted
  array is the same bit pattern — immune to the engine-specific
  ``quantile``/``percentile`` interpolation differences documented in
  ``plans/series.py``;
- CVaR/Sortino/Ulcer sums fold the (sorted or frame-ordered) array
  SEQUENTIALLY with the same expression tree on both sides, per the
  partial-aggregation-order rule in SCALING.md;
- return rows where ``lag`` is undefined are FILTERED (not NULLed)
  before any frame window, because Spark's ``collect_list`` drops
  NULLs while DuckDB's ``list()`` keeps them — filtering keeps the
  frames aligned element-for-element on both engines.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.series import (
    round_portable, round_portable_duck, row_frame, row_window,
)
from ..sources.tables import load

__all__ = ["rolling_var_cvar", "rolling_sortino", "ulcer_index",
           "drawdown_episodes"]


def _with_returns(df: DataFrame, value_col: str, keys: Sequence[str],
                  order: Sequence[str]) -> DataFrame:
    """Simple returns ``v / lag(v) - 1``; rows with an undefined
    return (first row of a key, or a zero previous value — sf0.1
    events carry ``value == 0.0`` rows, and ANSI Spark raises on
    division by zero) are dropped so both engines' frame lists stay
    element-aligned (see module docstring)."""
    wrow = row_window(keys, order)
    prev = F.lag(value_col, 1).over(wrow)
    ret = F.when(prev != F.lit(0.0),
                 F.col(value_col) / prev - F.lit(1.0))
    return df.withColumn("__ret", ret).filter(F.col("__ret").isNotNull())


def tail_k(n: int, q: float) -> int:
    """Number of worst-case frame elements in the ``q`` tail (≥ 1)."""
    return max(1, int(math.ceil(q * n)))


def rolling_var_cvar(df: DataFrame, value_col: str, keys: Sequence[str],
                     order: Sequence[str], n: int = 14,
                     q: float = 0.05) -> DataFrame:
    """Historical Value-at-Risk and Conditional VaR (expected
    shortfall) of simple returns over the last ``n`` return rows.

    ``var = -sorted_returns[k]`` (k-th worst, k = ceil(q*n) — an order
    statistic, no interpolation) and ``cvar = -mean(worst k)``, folded
    over the sorted prefix in index order. NULL until the frame holds
    ``n`` returns. Positive numbers = losses, the usual risk-desk sign
    convention.
    """
    k = tail_k(n, q)
    kf = float(k)
    r = _with_returns(df, value_col, keys, order)
    w = row_frame(keys, order, n)
    staged = (
        r.withColumn("__arr", F.collect_list(F.col("__ret")).over(w))
        .withColumn("__srt", F.expr("array_sort(__arr)"))
    )
    guard = f"size(__arr) >= {n}"
    var = f"CASE WHEN {guard} THEN -element_at(__srt, {k}) END"
    cvar = (
        f"CASE WHEN {guard} THEN "
        f"-(aggregate(slice(__srt, 1, {k}), 0D, (a, x) -> a + x)"
        f" / {kf!r}) END"
    )
    return (
        staged
        .withColumn("var", round_portable(F.expr(var)))
        .withColumn("cvar", round_portable(F.expr(cvar)))
        .drop("__arr", "__srt")
    )


def rolling_sortino(df: DataFrame, value_col: str, keys: Sequence[str],
                    order: Sequence[str], n: int = 14,
                    target: float = 0.0) -> DataFrame:
    """Sortino ratio over the last ``n`` return rows: mean excess
    return over the target divided by downside deviation
    ``sqrt(mean(min(r - target, 0)^2))``. NULL until the frame is full
    and when no frame return is below target (downside deviation 0).
    """
    nf = float(n)
    tgt = float(target)
    r = _with_returns(df, value_col, keys, order)
    w = row_frame(keys, order, n)
    staged = (
        r.withColumn("__arr", F.collect_list(F.col("__ret")).over(w))
        .withColumn("__mu", F.expr(
            f"aggregate(__arr, 0D, (a, x) -> a + x) / {nf!r}"))
        .withColumn("__dd2", F.expr(
            f"aggregate(__arr, 0D, "
            f"(a, x) -> a + pow(least(x - {tgt!r}, 0D), 2)) / {nf!r}"))
    )
    guard = f"size(__arr) >= {n} AND __dd2 != 0.0"
    sortino = f"CASE WHEN {guard} THEN (__mu - {tgt!r}) / sqrt(__dd2) END"
    return (
        staged
        .withColumn("sortino", round_portable(F.expr(sortino)))
        .drop("__arr", "__mu", "__dd2")
    )


def ulcer_index(df: DataFrame, value_col: str, keys: Sequence[str],
                order: Sequence[str], n: int = 14) -> DataFrame:
    """Ulcer index: RMS of the percent drawdown from the ``n``-row
    rolling high, measured over the last ``n`` drawdown rows.

    Two frame passes: ``dd = 100 * (p - max_n) / max_n`` (defined for
    every row — partial frames use the partial max), then
    ``ulcer = sqrt(mean(dd^2))`` over the last ``n`` dd values, NULL
    until every dd in the frame has a full lookback (row ``2n-1`` of
    its key onward). The squared drawdowns fold in frame order on both
    engines. A flat all-zero frame (max = 0 on a non-negative series)
    defines dd = 0.0 rather than dividing by zero.
    """
    nf = float(n)
    wrow = row_window(keys, order)
    w = row_frame(keys, order, n)
    maxn = F.max(value_col).over(w)
    dd = F.when(
        maxn != F.lit(0.0),
        F.lit(100.0) * (F.col(value_col) - maxn) / maxn,
    ).otherwise(F.lit(0.0))
    staged = (
        df.withColumn("__dd", dd)
        .withColumn("__rn", F.row_number().over(wrow))
        .withColumn("__arr", F.collect_list(F.col("__dd")).over(w))
        .withColumn("__s2", F.expr(
            f"aggregate(__arr, 0D, (a, x) -> a + pow(x, 2)) / {nf!r}"))
    )
    guard = f"__rn >= {2 * n - 1} AND size(__arr) >= {n}"
    ulcer = f"CASE WHEN {guard} THEN sqrt(__s2) END"
    return (
        staged
        .withColumn("ulcer", round_portable(F.expr(ulcer)))
        .drop("__dd", "__rn", "__arr", "__s2")
    )


def drawdown_episodes(df: DataFrame, value_col: str,
                      keys: Sequence[str],
                      order: Sequence[str]) -> DataFrame:
    """Discrete drawdown episodes per key: every maximal run of rows
    strictly below the running high, reported as (keys..., episode,
    peak_cents, trough_cents, depth, duration) — the event-level view
    that rolling drawdown (``rollstats``) and the Ulcer index
    summarize away.

    Gap-and-islands: the episode id is the running count of new-high
    rows (one prefix window), so detection is one key shuffle plus a
    map-side-combinable (key, episode) aggregation. Prices reduce to
    integer CENTS before min/max (order-free exact); depth =
    trough/peak − 1 is the only float, rounded portably.
    """
    wrow = row_window(keys, order)
    pfx = wrow.rowsBetween(Window.unboundedPreceding, 0)
    cents = F.expr(f"CAST(round({value_col} * 100) AS BIGINT)")
    staged = (
        df.withColumn("__cents", cents)
        .withColumn("__peak", F.max("__cents").over(pfx))
        .withColumn("__ishigh",
                    (F.col("__cents") == F.col("__peak")).cast("int"))
        .withColumn("__episode", F.sum("__ishigh").over(pfx))
    )
    below = staged.filter(F.col("__cents") < F.col("__peak"))
    depth = ("CAST(trough_cents AS DOUBLE) "
             "/ CAST(peak_cents AS DOUBLE) - 1.0")
    return (
        below.groupBy(*keys, "__episode")
        .agg(
            F.max("__peak").cast("bigint").alias("peak_cents"),
            F.min("__cents").cast("bigint").alias("trough_cents"),
            F.count(F.lit(1)).cast("bigint").alias("duration"),
        )
        .withColumnRenamed("__episode", "episode")
        .withColumn("depth", round_portable(F.expr(depth)))
    )


# ---------------------------------------------------------------------------
# Gate queries (R05 queue: the r04 window is full). Events series —
# strictly positive values (returns always defined), ~66-99 rows/user,
# so n=14 frames fill for most rows.
# ---------------------------------------------------------------------------

_N = 14
_Q = 0.05
_EVENTS_W = "PARTITION BY user_id ORDER BY ts, event_id"


def _q_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = rolling_var_cvar(load(spark, sf_dir, "events"), "value",
                           ["user_id"], ["ts", "event_id"], n=_N, q=_Q)
    return out.select("user_id", "event_id", "var", "cvar")


def _duck_returns(table: str = "events") -> str:
    return (
        f"SELECT user_id, event_id, ts, "
        f"CASE WHEN lag(value) OVER ({_EVENTS_W}) != 0.0 THEN "
        f"value / lag(value) OVER ({_EVENTS_W}) - 1.0 END AS ret "
        f"FROM {table}"
    )


_K = tail_k(_N, _Q)
_DUCK_FRAME = (f"WINDOW w AS ({_EVENTS_W} "
               f"ROWS BETWEEN {_N - 1} PRECEDING AND CURRENT ROW)")

_ORACLE_VAR_CVAR = f"""
WITH r AS ({_duck_returns()}),
f AS (
  SELECT user_id, event_id,
         list_sort(list(ret) OVER w) AS srt,
         count(*) OVER w AS cnt
  FROM r WHERE ret IS NOT NULL
  {_DUCK_FRAME}
)
SELECT user_id, event_id,
  {round_portable_duck(
      f"CASE WHEN cnt >= {_N} THEN -srt[{_K}] END")} AS var,
  {round_portable_duck(
      f"CASE WHEN cnt >= {_N} THEN "
      f"-(list_reduce(list_concat([CAST(0 AS DOUBLE)], "
      f"list_slice(srt, 1, {_K})), (a, x) -> a + x) / {float(_K)!r}) END"
  )} AS cvar
FROM f
"""


def _q_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = rolling_sortino(load(spark, sf_dir, "events"), "value",
                          ["user_id"], ["ts", "event_id"], n=_N)
    return out.select("user_id", "event_id", "sortino")


_D_MU = (f"list_reduce(list_concat([CAST(0 AS DOUBLE)], arr), "
         f"(a, x) -> a + x) / {float(_N)!r}")
_D_DD2 = (f"list_reduce(list_concat([CAST(0 AS DOUBLE)], "
          f"list_transform(arr, x -> pow(least(x - 0.0, CAST(0 AS DOUBLE)),"
          f" 2))), (a, x) -> a + x) / {float(_N)!r}")

_ORACLE_SORTINO = f"""
WITH r AS ({_duck_returns()}),
f AS (
  SELECT user_id, event_id, list(ret) OVER w AS arr
  FROM r WHERE ret IS NOT NULL
  {_DUCK_FRAME}
)
SELECT user_id, event_id,
  {round_portable_duck(
      f"CASE WHEN len(arr) >= {_N} AND ({_D_DD2}) != 0.0 "
      f"THEN (({_D_MU}) - 0.0) / sqrt({_D_DD2}) END")} AS sortino
FROM f
"""


def _q_ulcer(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ulcer_index(load(spark, sf_dir, "events"), "value",
                      ["user_id"], ["ts", "event_id"], n=_N)
    return out.select("user_id", "event_id", "ulcer")


_D_S2 = (f"list_reduce(list_concat([CAST(0 AS DOUBLE)], "
         f"list_transform(arr, x -> pow(x, 2))), (a, x) -> a + x) "
         f"/ {float(_N)!r}")

_ORACLE_ULCER = f"""
WITH d AS (
  SELECT user_id, event_id, ts,
         CASE WHEN max(value) OVER w != 0.0 THEN
           100.0 * (value - max(value) OVER w) / (max(value) OVER w)
         ELSE 0.0 END AS dd,
         row_number() OVER ({_EVENTS_W}) AS rn
  FROM events
  {_DUCK_FRAME}
),
f AS (
  SELECT user_id, event_id, rn, list(dd) OVER w AS arr
  FROM d
  WINDOW w AS ({_EVENTS_W}
               ROWS BETWEEN {_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id,
  {round_portable_duck(
      f"CASE WHEN rn >= {2 * _N - 1} AND len(arr) >= {_N} "
      f"THEN sqrt({_D_S2}) END")} AS ulcer
FROM f
"""


def _q_dd_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = drawdown_episodes(load(spark, sf_dir, "events"), "value",
                            ["user_id"], ["ts", "event_id"])
    return out.select("user_id", "episode", "peak_cents",
                      "trough_cents", "depth", "duration")


_ORACLE_DD_EPISODES = f"""
WITH t AS (
  SELECT user_id, event_id, ts,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), p AS (
  SELECT user_id, event_id, ts, cents,
         max(cents) OVER w AS peak
  FROM t
  WINDOW w AS ({_EVENTS_W}
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s AS (
  SELECT user_id, cents, peak,
         sum(CASE WHEN cents = peak THEN 1 ELSE 0 END) OVER w
           AS episode
  FROM p
  WINDOW w AS ({_EVENTS_W}
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, CAST(episode AS BIGINT) AS episode,
       CAST(max(peak) AS BIGINT) AS peak_cents,
       CAST(min(cents) AS BIGINT) AS trough_cents,
  {round_portable_duck(
      "CAST(min(cents) AS DOUBLE) / CAST(max(peak) AS DOUBLE) - 1.0"
  )} AS depth,
       CAST(count(*) AS BIGINT) AS duration
FROM s WHERE cents < peak
GROUP BY user_id, episode
"""


QUERIES: dict = {
    "risk_var_cvar_events": (_q_var_cvar, _ORACLE_VAR_CVAR),
    "risk_sortino_events": (_q_sortino, _ORACLE_SORTINO),
    "risk_ulcer_events": (_q_ulcer, _ORACLE_ULCER),
    "risk_dd_episodes_events": (_q_dd_episodes, _ORACLE_DD_EPISODES),
}
