"""Window-function surface (``window_``, ``topk_``): ranking, analytic, framed aggregates.

SURVEY.md §2.5 (W1-W4) plus the keep-latest dedup idiom (P3) and
per-group top-k (O2). Every ORDER BY inside a window carries a unique
tiebreak column so results are total-ordered and engine-independent.

Scale note: window functions shuffle once on the partition key and
sort within partitions -- the same cost profile as a groupBy on that
key. Skewed partition keys (one user with millions of events) are the
hazard at 100 TB; the partition keys here (custkey, user_id) are
near-uniform in the fixtures, and AQE skew handling covers the rest.
"""

from __future__ import annotations

from pyspark.sql import (
    DataFrame, functions as F, SparkSession, Window, Window as W,
)

from ..catalog import load
from ..functions.exact import q6, snap6 as _snap6, US_PER_DAY as _US_PER_DAY
from . import register
from .stream import _SESSION_ORACLE as _SESSION_BATCH_ORACLE


_LATEST_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate, round(o_totalprice, 2) AS total_price
FROM (
  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
"""


@register("window_keep_latest", oracle=_LATEST_ORACLE)
def window_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        load(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate",
                F.round("o_totalprice", 2).alias("total_price"))
    )


_TOPK_GROUP_ORACLE = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total_price, rnk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
) WHERE rnk <= 3
"""


@register("topk_per_group", oracle=_TOPK_GROUP_ORACLE)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        load(spark, sf_dir, "orders")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey",
                F.round("o_totalprice", 2).alias("total_price"), "rnk")
    )


_RANK_ORACLE = """
SELECT p_brand, p_partkey, round(p_retailprice, 2) AS retail_price,
       rank()       OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rnk,
       dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS drnk,
       ntile(4)     OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS quartile
FROM part
"""


@register("window_rank_ntile", oracle=_RANK_ORACLE)
def window_rank_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), "p_partkey")
    return (
        load(spark, sf_dir, "part")
        .select(
            "p_brand", "p_partkey",
            F.round("p_retailprice", 2).alias("retail_price"),
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
    )


_LAG_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate,
       date_diff('day',
                 lag(o_orderdate) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey),
                 o_orderdate) AS days_since_prev,
       lead(o_orderkey) OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS next_orderkey
FROM orders
"""


@register("window_lag_lead", oracle=_LAG_ORACLE)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey", "o_orderkey", "o_orderdate",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate").cast("date")).over(w),
            ).cast("long").alias("days_since_prev"),
            F.lead("o_orderkey").over(w).alias("next_orderkey"),
        )
    )


_RUNNING_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate,
       round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
       round(avg(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg_3
FROM orders
"""


@register("window_running_sum", oracle=_RUNNING_ORACLE)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey", "o_orderkey", "o_orderdate",
            F.round(
                F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, 0)), 2
            ).alias("running_spend"),
            F.round(
                F.avg("o_totalprice").over(w.rowsBetween(-2, 0)), 4
            ).alias("moving_avg_3"),
        )
    )


_RANGE_ORACLE = """
SELECT event_id, user_id, ts,
       count(*) OVER (PARTITION BY user_id ORDER BY epoch(ts)
                      RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS n_last_10m
FROM events
"""


@register("window_range_trailing", oracle=_RANGE_ORACLE)
def window_range_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # Epoch with fractional seconds so sub-second event spacing matches
    # DuckDB's epoch() (which returns fractional seconds for timestamps).
    epoch = F.col("ts").cast("double")
    w = (
        W.partitionBy("user_id")
        .orderBy(epoch)
        .rangeBetween(-600, 0)
    )
    return ev.select(
        "event_id", "user_id", "ts",
        F.count("*").over(w).alias("n_last_10m"),
    )


_PCTRANK_ORACLE = """
SELECT c_mktsegment, c_custkey,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist()    OVER w, 6) AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment
             ORDER BY c_acctbal NULLS FIRST, c_custkey)
"""


@register("window_percent_rank", oracle=_PCTRANK_ORACLE)
def window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c_mktsegment has 5 values: a per-segment window would funnel a
    fifth of the customer universe through one task's sort. The
    distribution pair derives from `grouped_percent_cume` (checkpointed
    global_rank layout + bounded broadcast segment offsets) instead."""
    from ..operators.ranking import grouped_percent_cume

    cust = load(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_custkey", "c_acctbal")
    # c_mktsegment is a fixed generator enum (5 values at every sf):
    # the bound skips grouped_rank's strategy-probe job (VERDICT r10
    # #5); any value <= broadcast_max picks the same broadcast join.
    out = grouped_percent_cume(cust, ["c_mktsegment"], "c_acctbal",
                               "c_custkey", "__pct", "__cume",
                               known_group_count=8)
    return out.select(
        "c_mktsegment", "c_custkey",
        F.round(F.col("__pct"), 6).alias("pct_rank"),
        F.round(F.col("__cume"), 6).alias("cume"),
    )


# Reuses the STREAMING session oracle verbatim (queries/stream.py):
# one hand-maintained formulation of "a >30-minute gap closes the
# session" -- Spark's session_window merges events exactly gap-distance
# apart, so the new-session condition is strictly `> 1800`, and both
# window orderings carry the event_id tiebreak.
@register("window_session_batch", oracle=_SESSION_BATCH_ORACLE)
def window_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select("user_id", "session_start", "n_events", "session_value")
    )


_NTH_ORACLE = """
SELECT user_id, event_id,
       round(nth_value(value, 3) OVER w, 2)  AS third_value,
       round(first_value(value) OVER w, 2)   AS first_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register("window_nth_value", oracle=_NTH_ORACLE)
def window_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return ev.select(
        "user_id", "event_id",
        F.round(F.nth_value("value", 3).over(w), 2).alias("third_value"),
        F.round(F.first("value").over(w), 2).alias("first_value"),
    )


_EWMA_ORACLE = """
SELECT event_id, user_id, value,
       list_sum(list_transform(vals, (x, i) -> x * pow(0.5, len(vals) - i)))
         / (2 - pow(0.5, len(vals) - 1)) AS ewma
FROM (
  SELECT event_id, user_id, value,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vals
  FROM events
)
"""


@register("window_ewma_smoothing", oracle=_EWMA_ORACLE)
def window_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    vals = F.collect_list("value").over(w)
    # Spark's transform index i is 0-based (newest element has
    # i = n-1, weight 2^0); DuckDB's is 1-based -- exponents match.
    ewma = F.expr(
        "aggregate(transform(vals, (x, i) -> x * pow(0.5, size(vals) - 1 - i)),"
        " 0D, (acc, x) -> acc + x) / (2 - pow(0.5, size(vals) - 1))"
    )
    return (
        ev.select("event_id", "user_id", "value", vals.alias("vals"))
        .withColumn("ewma", ewma)
        .drop("vals")
    )


_TOPK_ORACLE = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
"""


@register("topk_global", oracle=_TOPK_ORACLE)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(25)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_price"))
    )


_WINDOW_DIST_ORACLE = """
SELECT event_type, event_id,
       floor(percent_rank() OVER (PARTITION BY event_type
                                  ORDER BY value NULLS FIRST, event_id)
             * 1e6 + 0.5)
         / 1e6 AS pct_rank,
       floor(cume_dist() OVER (PARTITION BY event_type
                               ORDER BY value NULLS FIRST, event_id)
             * 1e6 + 0.5)
         / 1e6 AS cume
FROM events
"""


@register("window_distribution_funcs", oracle=_WINDOW_DIST_ORACLE)
def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import grouped_percent_cume

    ev = load(spark, sf_dir, "events").select("event_type", "event_id",
                                              "value")
    # event_type is a fixed generator enum (5 values at every sf):
    # bound skips the strategy-probe job, same broadcast either way.
    out = grouped_percent_cume(ev, ["event_type"], "value", "event_id",
                               "__pct", "__cume", known_group_count=8)
    return out.select(
        "event_type", "event_id",
        _snap6(F.col("__pct")).alias("pct_rank"),
        _snap6(F.col("__cume")).alias("cume"),
    )


_ROLLING_DISTINCT_ORACLE = """
SELECT event_id, event_type,
       CAST(count(DISTINCT user_id) OVER (
         PARTITION BY event_type ORDER BY ts
         RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS users_1h
FROM events
ORDER BY event_id
"""


@register("window_rolling_distinct_users", oracle=_ROLLING_DISTINCT_ORACLE)
def window_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: distinct users seen for that event type in the
    trailing hour (inclusive range frame on exact microseconds).
    Spark has no COUNT(DISTINCT) OVER; the distributed form is
    collect_list over the range frame -> array_distinct -> size --
    frame memory is bounded by events-per-type-hour, the natural
    rate limit of the feed (a hot type would move to the streaming
    rollup with its bounded state store). The oracle runs DuckDB's
    NATIVE distinct window, so the semantics -- frame inclusivity,
    timestamp ties, duplicate users -- are pinned cross-engine.

    Scale (round-5 rewrite): a range window PARTITION BY event_type
    sorts 1/|types| of the feed in ONE task. The distributed form is
    the banded self-join: each event probes its own hour bucket and
    the one before (every trailing-hour neighbor lives in one of the
    two), the join distributes on the HIGH-cardinality (type, hour)
    key, the exact interval is a post-join filter, and the distinct
    count is a plain (event, user) aggregate. Total work equals the
    window's total frame size -- now spread across tasks instead of
    serialized per type."""
    return banded_rolling_distinct(
        load(spark, sf_dir, "events")).orderBy("event_id")


def banded_rolling_distinct(events: DataFrame) -> DataFrame:
    """(event_id, event_type, users_1h) for every event: the
    trailing-hour distinct-user count as the banded (type, hour)
    self-join described above. Shared with tools/scale_probe.py.

    Window-partition semantics are preserved for NULLs (ADVICE r5):
    a NULL event_type is its own partition (eqNullSafe join, matching
    DuckDB's PARTITION BY grouping of NULLs), and NULL-ts rows -- the
    ORDER BY key -- form one peer group whose RANGE frame is exactly
    the NULL peers (DuckDB's frame rule), so they count distinct
    users among the same-type NULL-ts rows rather than vanish."""
    us = F.unix_micros(F.col("ts"))
    hour = F.lit(3_600_000_000)
    nn = events.where(F.col("ts").isNotNull())
    # integer `div`, not floor of a double quotient (the repo's
    # exactness idiom: no precision argument needed at any timestamp)
    b = F.expr("unix_micros(ts) div 3600000000")
    left = nn.select(
        "event_id", "event_type", us.alias("us"),
        F.explode(F.array(b.cast("long"), b.cast("long") - 1))
        .alias("bucket"),
    )
    right = nn.select(
        F.col("event_type").alias("r_type"),
        F.col("user_id").alias("r_user"), us.alias("r_us"),
        b.cast("long").alias("bucket"),
    )
    timed = (
        left.join(right, left.event_type.eqNullSafe(right.r_type)
                  & (left.bucket == right.bucket))
        .where((F.col("r_us") >= F.col("us") - hour)
               & (F.col("r_us") <= F.col("us")))
        .groupBy("event_id", "event_type")
        .agg(F.countDistinct("r_user").cast("long").alias("users_1h"))
    )
    # NULL-ts peer group: one aggregate per type (groupBy keeps NULL
    # type as its own key), fanned back with a null-safe join.
    null_ts = events.where(F.col("ts").isNull())
    ncnt = (null_ts.groupBy(F.col("event_type").alias("n_type"))
            .agg(F.countDistinct("user_id").cast("long")
                 .alias("users_1h")))
    untimed = (
        null_ts.select("event_id", "event_type")
        .join(ncnt, F.col("event_type").eqNullSafe(F.col("n_type")))
        .select("event_id", "event_type", "users_1h")
    )
    return timed.unionByName(untimed)


_ROLLMED_ORACLE = """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day_num,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, day_num, n,
       CASE WHEN count(*) OVER w = 7 THEN
         CAST(median(n) OVER w AS DOUBLE)
       END AS med7_s
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day_num
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY event_type, day_num
"""


@register("window_rolling_median", oracle=_ROLLMED_ORACLE)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day exact median of daily counts per event type,
    composed from a sorted frame array."""
    ev = load(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
    daily = (
        ev.groupBy("event_type", day.alias("day_num"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = W.partitionBy("event_type").orderBy("day_num").rowsBetween(-6, 0)
    return (
        daily.select(
            "event_type", "day_num", "n",
            F.when(
                F.count(F.lit(1)).over(w) == 7,
                F.element_at(F.array_sort(F.collect_list("n").over(w)), 4)
                .cast("double"),
            ).alias("med7_s"),
        )
        .orderBy("event_type", "day_num")
    )


_SLOPE_ORACLE = f"""
WITH counts AS (
  SELECT event_type,
         CAST(CAST(epoch_us(ts) AS BIGINT) // {_US_PER_DAY} AS BIGINT)
           AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
framed AS (
  SELECT event_type, day, y,
         CAST(count(*) OVER w AS BIGINT) AS n,
         CAST(sum(day) OVER w AS BIGINT) AS sx,
         CAST(sum(y) OVER w AS BIGINT) AS sy,
         CAST(sum(day * y) OVER w AS BIGINT) AS sxy,
         CAST(sum(day * day) OVER w AS BIGINT) AS sxx
  FROM counts
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, y, n,
       floor(
         CAST(n * sxy - sx * sy AS DOUBLE)
         / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0)
         * 1e6 + 0.5) / 1e6 AS slope_s
FROM framed
ORDER BY event_type, day
"""


@register("window_rolling_slope", oracle=_SLOPE_ORACLE)
def window_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-observation OLS slope of daily counts per event
    type, exact integer frame sums."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type",
        F.expr(f"unix_micros(ts) div {_US_PER_DAY}").cast("long")
        .alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    framed = counts.select(
        "event_type", "day", "y",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("day").over(w).cast("long").alias("sx"),
        F.sum("y").over(w).cast("long").alias("sy"),
        F.sum(F.col("day") * F.col("y")).over(w).cast("long").alias("sxy"),
        F.sum(F.col("day") * F.col("day")).over(w).cast("long")
        .alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        .cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) \
        .cast("double")
    return (
        framed.select(
            "event_type", "day", "y", "n",
            _snap6(num / F.nullif(den, F.lit(0.0))).alias("slope_s"),
        )
        .orderBy("event_type", "day")
    )


_VALUE_TIES_ORACLE = """
SELECT event_id, event_type,
       floor(percent_rank() OVER (PARTITION BY event_type
                                  ORDER BY value NULLS FIRST) * 1e6 + 0.5)
         / 1e6 AS pct_rank,
       floor(cume_dist() OVER (PARTITION BY event_type
                               ORDER BY value NULLS FIRST) * 1e6 + 0.5)
         / 1e6 AS cume
FROM events
"""


@register("window_value_ties_distribution", oracle=_VALUE_TIES_ORACLE)
def window_value_ties_distribution(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """percent_rank/cume_dist per event type ordered by value alone --
    tie groups share rank and cumulative count, distributed."""
    from ..operators.ranking import grouped_value_distribution

    ev = load(spark, sf_dir, "events").select("event_type", "event_id",
                                              "value")
    # event_type: fixed generator enum (5 values) -- skip the probe.
    out = grouped_value_distribution(
        ev, ["event_type"], "value", "event_id", "__pct", "__cume",
        known_group_count=8)
    return out.select(
        "event_id", "event_type",
        _snap6(F.col("__pct")).alias("pct_rank"),
        _snap6(F.col("__cume")).alias("cume"),
    )


_HAMPEL_K = 4.4478  # 3 * 1.4826


_HAMPEL_ORACLE = f"""
WITH v AS (
  SELECT event_id, user_id, ts, value,
         CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vq
  FROM events WHERE value IS NOT NULL
),
w AS (
  SELECT event_id, user_id, value, vq,
         list_sort(list(vq) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS s
  FROM v
),
m AS (
  SELECT event_id, user_id, value, vq,
         s[CAST((len(s) + 1) // 2 AS INT)]
           + s[CAST((len(s) + 2) // 2 AS INT)] AS med2q,
         list_sort(list_transform(
           s, x -> abs(2 * x - (s[CAST((len(s) + 1) // 2 AS INT)]
                                + s[CAST((len(s) + 2) // 2 AS INT)]))))
           AS dev
  FROM w
)
SELECT event_id, user_id, value,
       med2q / 2e6 AS med_s,
       (dev[CAST((len(dev) + 1) // 2 AS INT)]
        + dev[CAST((len(dev) + 2) // 2 AS INT)]) / 4e6 AS mad_s,
       2.0 * abs(2 * vq - med2q)
         > {_HAMPEL_K} * (dev[CAST((len(dev) + 1) // 2 AS INT)]
                          + dev[CAST((len(dev) + 2) // 2 AS INT)])
         AS is_outlier
FROM m ORDER BY event_id
"""


@register("window_hampel_filter", oracle=_HAMPEL_ORACLE)
def window_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel robust outlier screen: rolling ±3-row exact median/MAD
    per user in integer units, |x - med| > 3*1.4826*MAD flag."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-3, 3))
    base = ev.select("event_id", "user_id", "ts", "value",
                     q6(F.col("value")).alias("vq"))
    arr = base.withColumn(
        "s", F.array_sort(F.collect_list("vq").over(w)))
    med2q = ("(element_at(s, cast((size(s) + 1) div 2 as int))"
             " + element_at(s, cast((size(s) + 2) div 2 as int)))")
    m = arr.withColumn("med2q", F.expr(med2q)).withColumn(
        "dev",
        F.expr("array_sort(transform(s, x -> abs(2 * x - med2q)))"))
    mad4q = ("(element_at(dev, cast((size(dev) + 1) div 2 as int))"
             " + element_at(dev, cast((size(dev) + 2) div 2 as int)))")
    return (
        m.withColumn("mad4q", F.expr(mad4q))
        .select(
            "event_id", "user_id", "value",
            (F.col("med2q") / 2e6).alias("med_s"),
            (F.col("mad4q") / 4e6).alias("mad_s"),
            (2.0 * F.abs(2 * F.col("vq") - F.col("med2q"))
             > _HAMPEL_K * F.col("mad4q")).alias("is_outlier"))
        .orderBy("event_id")
    )
