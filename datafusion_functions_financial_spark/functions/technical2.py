"""Second tier of technical indicators: Williams %R, CCI, Keltner
channel, VWMA, MFI, and rolling z-score.

Reference scope: ``/root/reference/src/functions/`` stops at
sma/ema/rsi/macd; ``functions/technical.py`` added the next tier
(ATR/stochastic/OBV/returns/ROC/Donchian); this module completes the
classic single-series set a quant screen expects.

Scale shape (same as ``technical.py``): every indicator here is
frame-local — pure Catalyst window aggregates over a ROWS frame, one
hash shuffle on the series key, whole-stage codegen, no Python. At
100 TB these parallelize per-key like any Spark window; a giant single
key goes through ``indicators.with_indicators(max_rows_per_task=...)``
hot-key splitting if needed.

Determinism: window min/max/count are exact; window avg/sum of doubles
may differ from DuckDB by an ulp (absorbed by ``round_portable``, the
same exposure every green rolling op has). CCI's mean absolute
deviation is the one frame-local stat that needs the frame's OWN mean
per element, so it folds an ordered ``collect_list`` frame with
``aggregate`` — the DuckDB oracle folds the same list with
``list_reduce`` in the same order, making both sides sequentially
identical.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.series import (
    round_portable, round_portable_duck, row_frame, row_window,
)
from ..sources.tables import load

__all__ = ["williams_r", "cci", "keltner", "vwma", "mfi", "rolling_zscore"]


def williams_r(df: DataFrame, value_col: str, keys: Sequence[str],
               order: Sequence[str], n: int = 14) -> DataFrame:
    """Williams %R on a single-price series:
    ``-100 * (max_n - p) / (max_n - min_n)`` over the last ``n`` rows.
    NULL while the frame is short or flat (the stochastic's mirror:
    %R = %K - 100)."""
    w = row_frame(keys, order, n)
    full = F.count(F.col(value_col)).over(w) >= n
    hi = F.max(value_col).over(w)
    lo = F.min(value_col).over(w)
    r = F.lit(-100.0) * (hi - F.col(value_col)) / F.nullif(
        hi - lo, F.lit(0.0))
    return df.withColumn("williams_r", round_portable(F.when(full, r)))


def cci(df: DataFrame, value_col: str, keys: Sequence[str],
        order: Sequence[str], n: int = 20) -> DataFrame:
    """Commodity Channel Index on a single-price series:
    ``(p - SMA_n) / (0.015 * MAD_n)`` where MAD is the mean absolute
    deviation of the frame about the frame's own mean.

    MAD needs each frame element's deviation from the CURRENT frame's
    mean, which no incremental window aggregate expresses — so the
    frame is materialized as an ordered array (``collect_list`` over a
    ROWS frame preserves frame order) and folded twice sequentially.
    n is small (≤ a few hundred) so the array stays cache-resident;
    the fold order is identical in the DuckDB oracle (``list_reduce``),
    making the doubles bit-equal before rounding.
    """
    w = row_frame(keys, order, n)
    arr = F.collect_list(F.col(value_col)).over(w)
    with_arr = df.withColumn("__arr", arr)
    # Materialize the mean BEFORE the MAD fold: referencing the mean
    # fold inside the MAD lambda would re-run it per element (O(n²)
    # per row). Same doubles either way — the fold is deterministic.
    with_m = with_arr.withColumn(
        "__m",
        F.expr(f"aggregate(__arr, 0D, (a, x) -> a + x) / {float(n)!r}"))
    mad = (f"aggregate(__arr, 0D, (a, x) -> a + abs(x - __m))"
           f" / {float(n)!r}")
    with_mad = with_m.withColumn("__mad", F.expr(mad))
    expr = (
        f"CASE WHEN size(__arr) >= {n} AND __mad != 0.0 "
        f"THEN ({value_col} - __m) / (0.015 * __mad) END"
    )
    return with_mad.withColumn(
        "cci", round_portable(F.expr(expr))
    ).drop("__arr", "__m", "__mad")


def keltner(df: DataFrame, value_col: str, keys: Sequence[str],
            order: Sequence[str], n: int = 20,
            mult: float = 2.0) -> DataFrame:
    """Keltner channel, SMA-basis variant for a single-price series:
    middle = SMA_n, bands = middle ± mult * ATR_n where ATR is the
    close-to-close true-range rolling mean (``technical.atr``'s
    convention). NULL until both frames are full."""
    wrow = row_window(keys, order)
    tr = F.abs(F.col(value_col) - F.lag(value_col, 1).over(wrow))
    with_tr = df.withColumn("__tr", tr)
    w = row_frame(keys, order, n)
    sma_full = F.count(F.col(value_col)).over(w) >= n
    atr_full = F.count(F.col("__tr")).over(w) >= n
    mid = F.when(sma_full, F.avg(value_col).over(w))
    band = F.when(atr_full, F.lit(mult) * F.avg("__tr").over(w))
    return (
        with_tr
        .withColumn("kc_mid", round_portable(mid))
        .withColumn("kc_hi", round_portable(mid + band))
        .withColumn("kc_lo", round_portable(mid - band))
        .drop("__tr")
    )


def vwma(df: DataFrame, price_col: str, volume_col: str,
         keys: Sequence[str], order: Sequence[str],
         n: int = 20) -> DataFrame:
    """Volume-weighted moving average:
    ``sum_n(p * v) / sum_n(v)`` over the last ``n`` rows. NULL until the
    frame is full or when the volume sum is zero."""
    w = row_frame(keys, order, n)
    full = F.count(F.col(price_col)).over(w) >= n
    num = F.sum(F.col(price_col) * F.col(volume_col)).over(w)
    den = F.sum(F.col(volume_col)).over(w)
    out = F.when(full, num / F.nullif(den, F.lit(0.0)))
    return df.withColumn("vwma", round_portable(out))


def mfi(df: DataFrame, price_col: str, volume_col: str,
        keys: Sequence[str], order: Sequence[str],
        n: int = 14) -> DataFrame:
    """Money Flow Index on a (price, volume) series:
    raw money flow ``p * v`` is positive when the price ticked up,
    negative when down (flat ticks contribute neither — Wilder's
    convention); ``MFI = 100 * pos_n / (pos_n + neg_n)`` over the last
    ``n`` rows. NULL until the frame is full or when no flow is signed.
    First row of a key has no direction and contributes to neither sum.
    """
    wrow = row_window(keys, order)
    prev = F.lag(price_col, 1).over(wrow)
    flow = F.col(price_col) * F.col(volume_col)
    pos = F.when(F.col(price_col) > prev, flow).otherwise(F.lit(0.0))
    neg = F.when(F.col(price_col) < prev, flow).otherwise(F.lit(0.0))
    with_f = df.withColumn("__pos", pos).withColumn("__neg", neg)
    w = row_frame(keys, order, n)
    full = F.count(F.col(price_col)).over(w) >= n
    p_n = F.sum("__pos").over(w)
    n_n = F.sum("__neg").over(w)
    out = F.when(
        full, F.lit(100.0) * p_n / F.nullif(p_n + n_n, F.lit(0.0)))
    return with_f.withColumn("mfi", round_portable(out)).drop(
        "__pos", "__neg")


def rolling_zscore(df: DataFrame, value_col: str, keys: Sequence[str],
                   order: Sequence[str], n: int = 20) -> DataFrame:
    """Rolling z-score: ``(p - mean_n) / stddev_samp_n`` over the last
    ``n`` rows. NULL until the frame is full or when the frame is
    flat (zero stddev)."""
    w = row_frame(keys, order, n)
    full = F.count(F.col(value_col)).over(w) >= n
    mean = F.avg(value_col).over(w)
    sd = F.stddev_samp(value_col).over(w)
    out = F.when(
        full,
        (F.col(value_col) - mean) / F.nullif(sd, F.lit(0.0)),
    )
    return df.withColumn("zscore", round_portable(out))


# --------------------------------------------------------------------------
# Gate queries (series configs shared with functions/technical.py)
# --------------------------------------------------------------------------

_WR_N = 5
_CCI_N = 5
_KC_N, _KC_MULT = 5, 2.0
_VWMA_N = 5
_MFI_N = 5
_Z_N = 5

_EVENTS_W = "PARTITION BY user_id ORDER BY ts, event_id"
_EVENTS_WIN = (f"PARTITION BY user_id ORDER BY ts, event_id "
               f"ROWS BETWEEN {{p}} PRECEDING AND CURRENT ROW")
_LINEITEM_ORDER = ("l_shipdate, l_orderkey, l_linenumber, "
                   "l_extendedprice")
_LINEITEM_W = f"PARTITION BY l_suppkey ORDER BY {_LINEITEM_ORDER}"


def _q_williams(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = williams_r(load(spark, sf_dir, "events"), "value", ["user_id"],
                     ["ts", "event_id"], n=_WR_N)
    return out.select("user_id", "event_id", "value", "williams_r")


_ORACLE_WILLIAMS = f"""
WITH t AS (
  SELECT user_id, event_id, value,
         max(value) OVER w AS hi, min(value) OVER w AS lo,
         count(value) OVER w AS cnt
  FROM events
  WINDOW w AS ({_EVENTS_WIN.format(p=_WR_N - 1)})
)
SELECT user_id, event_id, value,
  {round_portable_duck(
      f"CASE WHEN cnt >= {_WR_N} "
      f"THEN -100.0 * (hi - value) / nullif(hi - lo, 0.0) END")}
    AS williams_r
FROM t
"""


def _q_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = cci(load(spark, sf_dir, "events"), "value", ["user_id"],
              ["ts", "event_id"], n=_CCI_N)
    return out.select("user_id", "event_id", "value", "cci")


_DUCK_CCI_MEAN = (
    "list_reduce(list_concat([CAST(0 AS DOUBLE)], arr), "
    f"(a, x) -> a + x) / {float(_CCI_N)!r}"
)
_DUCK_CCI_MAD = (
    "list_reduce(list_concat([CAST(0 AS DOUBLE)], "
    f"list_transform(arr, x -> abs(x - ({_DUCK_CCI_MEAN})))), "
    f"(a, x) -> a + x) / {float(_CCI_N)!r}"
)

_ORACLE_CCI = f"""
WITH t AS (
  SELECT user_id, event_id, value,
         list(value) OVER w AS arr
  FROM events
  WINDOW w AS ({_EVENTS_WIN.format(p=_CCI_N - 1)})
)
SELECT user_id, event_id, value,
  {round_portable_duck(
      f"CASE WHEN len(arr) >= {_CCI_N} AND ({_DUCK_CCI_MAD}) != 0.0 "
      f"THEN (value - ({_DUCK_CCI_MEAN})) / (0.015 * ({_DUCK_CCI_MAD})) "
      f"END")} AS cci
FROM t
"""


def _q_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = keltner(load(spark, sf_dir, "events"), "value", ["user_id"],
                  ["ts", "event_id"], n=_KC_N, mult=_KC_MULT)
    return out.select("user_id", "event_id", "value",
                      "kc_mid", "kc_hi", "kc_lo")


_ORACLE_KELTNER = f"""
WITH r AS (
  SELECT user_id, event_id, value, ts,
         abs(value - lag(value) OVER ({_EVENTS_W})) AS tr
  FROM events
), t AS (
  SELECT user_id, event_id, value,
         avg(value) OVER w AS m, count(value) OVER w AS mcnt,
         avg(tr) OVER w AS a, count(tr) OVER w AS acnt
  FROM r
  WINDOW w AS ({_EVENTS_WIN.format(p=_KC_N - 1)})
), b AS (
  SELECT user_id, event_id, value,
         CASE WHEN mcnt >= {_KC_N} THEN m END AS mid,
         CASE WHEN acnt >= {_KC_N} THEN {_KC_MULT!r} * a END AS band
  FROM t
)
SELECT user_id, event_id, value,
  {round_portable_duck("mid")} AS kc_mid,
  {round_portable_duck("mid + band")} AS kc_hi,
  {round_portable_duck("mid - band")} AS kc_lo
FROM b
"""


def _q_vwma(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = vwma(load(spark, sf_dir, "lineitem"), "l_extendedprice",
               "l_quantity", ["l_suppkey"],
               ["l_shipdate", "l_orderkey", "l_linenumber",
                "l_extendedprice"], n=_VWMA_N)
    return out.select("l_suppkey", "l_orderkey", "l_linenumber", "vwma")


_ORACLE_VWMA = f"""
WITH t AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         sum(l_extendedprice * l_quantity) OVER w AS num,
         sum(l_quantity) OVER w AS den,
         count(l_extendedprice) OVER w AS cnt
  FROM lineitem
  WINDOW w AS ({_LINEITEM_W}
               ROWS BETWEEN {_VWMA_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT l_suppkey, l_orderkey, l_linenumber,
  {round_portable_duck(
      f"CASE WHEN cnt >= {_VWMA_N} "
      f"THEN num / nullif(den, 0.0) END")} AS vwma
FROM t
"""


def _q_mfi(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = mfi(load(spark, sf_dir, "lineitem"), "l_extendedprice",
              "l_quantity", ["l_suppkey"],
              ["l_shipdate", "l_orderkey", "l_linenumber",
               "l_extendedprice"], n=_MFI_N)
    return out.select("l_suppkey", "l_orderkey", "l_linenumber", "mfi")


_ORACLE_MFI = f"""
WITH r AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
         l_extendedprice,
         CASE WHEN l_extendedprice >
                   lag(l_extendedprice) OVER ({_LINEITEM_W})
              THEN l_extendedprice * l_quantity ELSE 0.0 END AS pos,
         CASE WHEN l_extendedprice <
                   lag(l_extendedprice) OVER ({_LINEITEM_W})
              THEN l_extendedprice * l_quantity ELSE 0.0 END AS neg
  FROM lineitem
), t AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         sum(pos) OVER w AS p, sum(neg) OVER w AS n,
         count(l_extendedprice) OVER w AS cnt
  FROM r
  WINDOW w AS ({_LINEITEM_W}
               ROWS BETWEEN {_MFI_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT l_suppkey, l_orderkey, l_linenumber,
  {round_portable_duck(
      f"CASE WHEN cnt >= {_MFI_N} "
      f"THEN 100.0 * p / nullif(p + n, 0.0) END")} AS mfi
FROM t
"""


def _q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = rolling_zscore(load(spark, sf_dir, "events"), "value",
                         ["user_id"], ["ts", "event_id"], n=_Z_N)
    return out.select("user_id", "event_id", "value", "zscore")


_ORACLE_ZSCORE = f"""
WITH t AS (
  SELECT user_id, event_id, value,
         avg(value) OVER w AS m, stddev_samp(value) OVER w AS sd,
         count(value) OVER w AS cnt
  FROM events
  WINDOW w AS ({_EVENTS_WIN.format(p=_Z_N - 1)})
)
SELECT user_id, event_id, value,
  {round_portable_duck(
      f"CASE WHEN cnt >= {_Z_N} "
      f"THEN (value - m) / nullif(sd, 0.0) END")} AS zscore
FROM t
"""


QUERIES: dict = {
    "ind_williams_r_events": (_q_williams, _ORACLE_WILLIAMS),
    "ind_cci_events": (_q_cci, _ORACLE_CCI),
    "ind_keltner_events": (_q_keltner, _ORACLE_KELTNER),
    "ind_vwma_lineitem": (_q_vwma, _ORACLE_VWMA),
    "ind_mfi_lineitem": (_q_mfi, _ORACLE_MFI),
    "ind_zscore_events": (_q_zscore, _ORACLE_ZSCORE),
}
