"""Second tier of OLAP query patterns: time-RANGE window frames,
gap-and-islands streaks, latest-row-per-key dedup, NTILE deciles,
CUBE grouping, per-group mode, median absolute deviation, and EXISTS
semi-joins.

Extends ``plans/analytics.py`` (sessionize/pivot/rollup/quantiles/
set-ops/band-join...) with the remaining classic patterns a warehouse
user reaches for. All pure Catalyst; scale notes per query:

- ``user_activity_1h``: RANGE frame over epoch-ns longs — the frame is
  evaluated incrementally per partition (two pointers), ONE hash
  shuffle on the key; this is the scalable way to express "events in
  the trailing hour per user" (a self-join would be quadratic per key);
- ``event_streaks``: two window passes over the same (user, ts)
  ordering — Catalyst reuses the single sort/Exchange for both
  (gap-and-islands via row_number difference, no join);
- ``latest_order_per_customer``: ``max_by`` aggregation — map-side
  combinable, ONE shuffle, no window sort at all (the row_number=1
  idiom sorts every group; max_by keeps a single struct per group);
- ``customer_deciles``: global NTILE after a groupBy — the global
  window is a single-partition sort, acceptable because the input is
  one row per customer (pre-aggregated), NOT raw orders;
- ``orders_cube``: CUBE = grouping-set expansion, map-side partial
  aggregation per grouping set, one shuffle;
- ``mode_event_type``: two-level groupBy + ``max_by`` over (cnt, key)
  — no window, deterministic tiebreak by the larger type string;
- ``orders_mad``: two-pass percentile (median of |x − median|) with a
  BROADCAST join of the per-group medians (a few rows) back to facts;
- ``orders_with_big_item``: EXISTS → LEFT SEMI join on the join key
  with the item predicate pushed below the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load
from .series import round_portable, round_portable_duck

__all__ = [
    "user_activity_range", "event_streaks", "latest_order_per_customer",
    "customer_deciles", "orders_cube", "mode_event_type", "group_mad",
    "orders_with_big_item", "session_stats", "topk_events_per_user",
]

_HOUR_NS = 3_600 * 1_000_000_000


def user_activity_range(events: DataFrame,
                        range_ns: int = _HOUR_NS) -> DataFrame:
    """Per event: count and value-sum of the SAME user's events in the
    trailing ``range_ns`` window (inclusive of the current row).

    RANGE (not ROWS) frame over the epoch-ns long — ties in ``ts``
    are all included regardless of tiebreak order, which is what makes
    this deterministic without a unique ordering column."""
    w = (
        Window.partitionBy("user_id").orderBy(F.col("ts").asc())
        .rangeBetween(-range_ns, 0)
    )
    return events.select(
        "user_id", "event_id", "ts",
        F.count(F.lit(1)).over(w).alias("n_events_1h"),
        round_portable(F.sum("value").over(w)).alias("sum_value_1h"),
    )


def event_streaks(events: DataFrame, min_len: int = 3) -> DataFrame:
    """Gap-and-islands: maximal runs of consecutive same-type events
    per user (ordered by ts, event_id), keeping runs of at least
    ``min_len``. Returns (user_id, event_type, streak_len,
    start_event_id)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wt = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id")
    grp = (F.row_number().over(w) - F.row_number().over(wt))
    return (
        events
        .withColumn("__g", grp)
        .groupBy("user_id", "event_type", "__g")
        .agg(
            F.count(F.lit(1)).alias("streak_len"),
            F.min("event_id").alias("start_event_id"),
        )
        .filter(F.col("streak_len") >= min_len)
        .drop("__g")
    )


def latest_order_per_customer(orders: DataFrame) -> DataFrame:
    """Latest order per customer — the "current snapshot" dedup.

    ``max_by`` over the unique (o_orderdate, o_orderkey) ordering
    struct: map-side combinable single shuffle, no per-group sort
    (vs. the row_number()=1 idiom, which sorts every group's rows)."""
    ordk = F.struct(F.col("o_orderdate"), F.col("o_orderkey"))
    return orders.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", ordk).alias("last_orderkey"),
        # Epoch-µs BIGINT, not a raw timestamp: Spark hands pandas ns
        # resolution while DuckDB hands µs, and the driver's hash
        # compare is dtype-sensitive (same convention as events.ts).
        F.unix_micros(F.max("o_orderdate").cast("timestamp")).alias("last_order_us"),
        F.max_by("o_totalprice", ordk).alias("last_totalprice"),
    )


def customer_deciles(orders: DataFrame) -> DataFrame:
    """Customers ranked into revenue deciles: NTILE(10) + cumulative
    revenue share. Aggregates to one row per customer FIRST, so the
    global ranking window sorts |customers| rows, not |orders|."""
    rev = orders.groupBy("o_custkey").agg(
        round_portable(F.sum("o_totalprice")).alias("revenue"))
    w = Window.orderBy(F.col("revenue").desc(), F.col("o_custkey").asc())
    return rev.select(
        "o_custkey", "revenue",
        # BIGINT: Spark's ntile is int32 but DuckDB's is int64, and the
        # driver's value hash is dtype-sensitive.
        F.ntile(10).over(w).cast("bigint").alias("decile"),
        round_portable(F.percent_rank().over(w)).alias("pct_rank"),
    )


def orders_cube(orders: DataFrame) -> DataFrame:
    """CUBE over (status, priority): all four grouping sets in one
    pass — counts and revenue per (status), (priority), (status,
    priority), and grand total. NULL marks the rolled-up dimension
    (input columns are non-null, so no ambiguity)."""
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            round_portable(F.sum("o_totalprice")).alias("revenue"),
        )
    )


def mode_event_type(events: DataFrame) -> DataFrame:
    """Per-user modal event type: most frequent ``event_type``, ties
    broken toward the lexicographically larger type (max_by over the
    (cnt, type) struct — deterministic, no window)."""
    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt"))
    pick = F.struct(F.col("cnt"), F.col("event_type"))
    return counts.groupBy("user_id").agg(
        F.max_by("event_type", pick).alias("mode_type"),
        F.max("cnt").alias("mode_cnt"),
    )


def group_mad(orders: DataFrame) -> DataFrame:
    """Median absolute deviation of order value per status: exact
    ``median(|x − median(x)|)`` — two percentile passes with the
    per-group medians (|groups| rows) BROADCAST back to the facts.

    Exact ``percentile`` holds per-group values in memory — the same
    documented bound as ``plans/analytics.q_quantiles``; the approx
    path for 100 TB monitoring is ``approx_percentile`` (see
    operators/quality.py)."""
    med = orders.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("__med"))
    return (
        orders.join(F.broadcast(med), "o_orderstatus")
        .withColumn("__dev", F.abs(F.col("o_totalprice") - F.col("__med")))
        .groupBy("o_orderstatus")
        .agg(
            round_portable(F.expr("percentile(__dev, 0.5)")).alias("mad"),
            round_portable(F.first("__med")).alias("median_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def orders_with_big_item(orders: DataFrame, lineitem: DataFrame,
                         min_price: float = 90_000.0) -> DataFrame:
    """Orders having EXISTS(lineitem with extendedprice above the
    threshold): LEFT SEMI join — the item predicate filters BEFORE the
    join (pushdown), and the semi join emits each order at most once
    with no lineitem payload shuffled."""
    big = lineitem.filter(F.col("l_extendedprice") > min_price).select(
        "l_orderkey")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .select("o_orderkey", "o_custkey",
                round_portable(F.col("o_totalprice")).alias("o_totalprice"))
    )


SESSION_GAP_US = 30 * 60 * 1_000_000  # analytics.py's gap convention


def session_stats(events: DataFrame,
                  gap_us: int = SESSION_GAP_US) -> DataFrame:
    """Per-user session summary on top of gap-based sessionization
    (the ``analytics.q_events_sessionize`` assignment): session count,
    mean session duration, and bounce rate (share of single-event
    sessions). Two groupBy passes over one user_id partitioning —
    the per-session relation is already clustered by user, so the
    second aggregation needs no new Exchange. All ratios are exact
    integer-to-double divisions."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr("ts DIV 1000")
    new_session = F.when(
        (us - F.lag(us).over(w)) > gap_us, 1).otherwise(0)
    sess = (
        events.withColumn("__new", new_session)
        .withColumn("__sid", F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "__sid")
        .agg(F.count(F.lit(1)).alias("__n"),
             (F.max(us) - F.min(us)).alias("__dur"))
    )
    return sess.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        round_portable(
            F.sum("__dur").cast("double")
            / (F.lit(1_000_000.0) * F.count(F.lit(1)).cast("double"))
        ).alias("mean_duration_s"),
        round_portable(
            F.sum(F.when(F.col("__n") == 1, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double")
        ).alias("bounce_rate"),
    )


TOPK_PER_USER = 3


def topk_events_per_user(events: DataFrame,
                         k: int = TOPK_PER_USER) -> DataFrame:
    """Top-``k`` events per user by value (ties to the smaller
    event_id): the per-entity leaderboard pattern. One window rank per
    user partition — at scale this is the right shape when k ≪ group
    size (the rank filter drops rows before any further shuffle)."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc())
    return (
        events.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("user_id", "event_id",
                round_portable(F.col("value")).alias("value"), "rank")
    )


# --------------------------------------------------------------------------
# Gate queries
# --------------------------------------------------------------------------

_STREAK_MIN = 2
_BIG_ITEM = 90_000.0


def _q_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return user_activity_range(load(spark, sf_dir, "events"))


_ORACLE_ACTIVITY = f"""
SELECT user_id, event_id, epoch_us(ts) * 1000 AS ts,
       count(*) OVER w AS n_events_1h,
       {round_portable_duck("sum(value) OVER w")} AS sum_value_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) * 1000
             RANGE BETWEEN {_HOUR_NS} PRECEDING AND CURRENT ROW)
"""


def _q_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_streaks(load(spark, sf_dir, "events"),
                         min_len=_STREAK_MIN)


_ORACLE_STREAKS = f"""
WITH g AS (
  SELECT user_id, event_type, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id)
         - row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS grp
  FROM events
)
SELECT user_id, event_type,
       count(*) AS streak_len,
       min(event_id) AS start_event_id
FROM g
GROUP BY user_id, event_type, grp
HAVING count(*) >= {_STREAK_MIN}
"""


def _q_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return latest_order_per_customer(load(spark, sf_dir, "orders"))


# DuckDB's arg_max has no struct-key overload, so the oracle uses the
# row_number()=1 idiom over the same (date DESC, key DESC) ordering —
# equivalent because (o_orderdate, o_orderkey) is unique.
_ORACLE_LATEST = """
SELECT o_custkey, o_orderkey AS last_orderkey,
       epoch_us(o_orderdate) AS last_order_us,
       o_totalprice AS last_totalprice
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
"""


def _q_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return customer_deciles(load(spark, sf_dir, "orders"))


_ORACLE_DECILES = f"""
WITH rev AS (
  SELECT o_custkey,
         {round_portable_duck("sum(o_totalprice)")} AS revenue
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, revenue,
       ntile(10) OVER w AS decile,
       {round_portable_duck("percent_rank() OVER w")} AS pct_rank
FROM rev
WINDOW w AS (ORDER BY revenue DESC, o_custkey ASC)
"""


def _q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return orders_cube(load(spark, sf_dir, "orders"))


_ORACLE_CUBE = f"""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       {round_portable_duck("sum(o_totalprice)")} AS revenue
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def _q_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mode_event_type(load(spark, sf_dir, "events"))


_ORACLE_MODE = """
WITH c AS (
  SELECT user_id, event_type, count(*) AS cnt
  FROM events GROUP BY 1, 2
), m AS (
  SELECT user_id, event_type, cnt,
         row_number() OVER (PARTITION BY user_id
            ORDER BY cnt DESC, event_type DESC) AS rn,
         max(cnt) OVER (PARTITION BY user_id) AS mode_cnt
  FROM c
)
SELECT user_id, event_type AS mode_type, mode_cnt
FROM m WHERE rn = 1
"""


def _q_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    return group_mad(load(spark, sf_dir, "orders"))


_ORACLE_MAD = f"""
WITH med AS (
  SELECT o_orderstatus,
         quantile_cont(o_totalprice, 0.5) AS m
  FROM orders GROUP BY 1
)
SELECT o.o_orderstatus,
       {round_portable_duck(
           "quantile_cont(abs(o.o_totalprice - med.m), 0.5)")} AS mad,
       {round_portable_duck("any_value(med.m)")} AS median_price,
       count(*) AS n_orders
FROM orders o JOIN med USING (o_orderstatus)
GROUP BY o.o_orderstatus
"""


def _q_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    return orders_with_big_item(load(spark, sf_dir, "orders"),
                                load(spark, sf_dir, "lineitem"),
                                min_price=_BIG_ITEM)


_ORACLE_EXISTS = f"""
SELECT o_orderkey, o_custkey,
       {round_portable_duck("o_totalprice")} AS o_totalprice
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_extendedprice > {_BIG_ITEM!r})
"""


def _q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_stats(load(spark, sf_dir, "events"))


_ORACLE_SESSION_STATS = f"""
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT *, CAST(sum(new_session) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS sid
  FROM flagged
), per_session AS (
  SELECT user_id, sid, count(*) AS n,
         max(us) - min(us) AS dur
  FROM sessions GROUP BY 1, 2
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_sessions,
  {round_portable_duck(
      "CAST(sum(dur) AS DOUBLE) "
      "/ (1000000.0 * CAST(count(*) AS DOUBLE))")} AS mean_duration_s,
  {round_portable_duck(
      "CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) "
      "/ CAST(count(*) AS DOUBLE)")} AS bounce_rate
FROM per_session GROUP BY 1
"""


def _q_topk_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topk_events_per_user(load(spark, sf_dir, "events"))


_ORACLE_TOPK_USER = f"""
SELECT user_id, event_id,
  {round_portable_duck("value")} AS value,
  rank
FROM (
  SELECT user_id, event_id, value,
         CAST(row_number() OVER (PARTITION BY user_id
              ORDER BY value DESC, event_id ASC) AS BIGINT) AS rank
  FROM events
) WHERE rank <= {TOPK_PER_USER}
"""


def orders_above_customer_avg(orders: DataFrame) -> DataFrame:
    """Orders strictly above their own customer's average order value —
    the correlated-subquery classic (``WHERE x > (SELECT avg ...)``),
    planned as groupBy + broadcast join back to facts.

    The comparison is INTEGER-exact: prices quantize to cents
    (BIGINT), and ``price > avg`` becomes
    ``cents * n > sum_cents`` — no float average whose last-ulp
    summation order could differ between engines."""
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    stats = (
        orders.withColumn("__c", cents)
        .groupBy("o_custkey")
        .agg(F.sum("__c").alias("__sum_c"),
             F.count(F.lit(1)).alias("__n"))
    )
    return (
        orders.withColumn("__c", cents)
        .join(F.broadcast(stats), "o_custkey")
        .filter(F.col("__c") * F.col("__n") > F.col("__sum_c"))
        .select("o_custkey", "o_orderkey",
                round_portable(F.col("o_totalprice")).alias("o_totalprice"))
    )


def _q_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return orders_above_customer_avg(load(spark, sf_dir, "orders"))


_ORACLE_ABOVE_AVG = f"""
WITH stats AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS sum_c,
         count(*) AS n
  FROM orders GROUP BY 1
)
SELECT o.o_custkey, o.o_orderkey,
  {round_portable_duck("o.o_totalprice")} AS o_totalprice
FROM orders o JOIN stats s USING (o_custkey)
WHERE CAST(round(o.o_totalprice * 100) AS BIGINT) * s.n > s.sum_c
"""


def yoy_growth(orders: DataFrame) -> DataFrame:
    """Year-over-year revenue growth per customer: yearly revenue in
    integer cents (exact unordered sums), growth = rev/prev − 1 via a
    LAG over years. One (custkey, year) aggregation shuffle; the year
    window runs over a handful of rows per customer."""
    yearly = (
        orders
        .withColumn("__yr", F.year(F.col("o_orderdate")))
        .withColumn("__c", F.expr(
            "CAST(round(o_totalprice * 100) AS BIGINT)"))
        .groupBy("o_custkey", "__yr")
        .agg(F.sum("__c").alias("__rev_c"))
    )
    w = Window.partitionBy("o_custkey").orderBy("__yr")
    prev = F.lag("__rev_c", 1).over(w)
    return yearly.select(
        "o_custkey",
        F.col("__yr").cast("bigint").alias("year"),
        round_portable(F.col("__rev_c") / F.lit(100.0)).alias("revenue"),
        round_portable(
            F.col("__rev_c").cast("double")
            / F.nullif(prev.cast("double"), F.lit(0.0)) - F.lit(1.0)
        ).alias("yoy_growth"),
    )


def _q_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return yoy_growth(load(spark, sf_dir, "orders"))


_ORACLE_YOY = f"""
WITH yearly AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) AS BIGINT) AS year,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS rev_c
  FROM orders GROUP BY 1, 2
)
SELECT o_custkey, year,
  {round_portable_duck("rev_c / 100.0")} AS revenue,
  {round_portable_duck(
      "CAST(rev_c AS DOUBLE) / nullif(CAST(lag(rev_c) OVER "
      "(PARTITION BY o_custkey ORDER BY year) AS DOUBLE), 0.0) - 1.0")}
    AS yoy_growth
FROM yearly
"""


QUERIES: dict = {
    "q_user_activity_1h_events": (_q_activity, _ORACLE_ACTIVITY),
    "q_event_streaks_events": (_q_streaks, _ORACLE_STREAKS),
    "q_latest_order_per_customer": (_q_latest_order, _ORACLE_LATEST),
    "q_customer_deciles": (_q_deciles, _ORACLE_DECILES),
    "q_orders_cube": (_q_cube, _ORACLE_CUBE),
    "q_mode_event_type_events": (_q_mode, _ORACLE_MODE),
    "q_orders_mad": (_q_mad, _ORACLE_MAD),
    "q_orders_exists_bigitem": (_q_exists, _ORACLE_EXISTS),
    "q_session_stats_events": (_q_session_stats, _ORACLE_SESSION_STATS),
    "q_topk_events_per_user": (_q_topk_user, _ORACLE_TOPK_USER),
    "q_orders_above_cust_avg": (_q_above_avg, _ORACLE_ABOVE_AVG),
    "q_yoy_growth_orders": (_q_yoy, _ORACLE_YOY),
}
