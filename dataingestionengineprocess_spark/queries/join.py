"""Join surface (``join_``, ``asof_``): every join strategy the engine plans.

SURVEY.md §2.3 (J1-J6): inner, outer, semi and anti joins, theta and
range joins on a bucket grid, interval overlap, spatial grid joins,
salted hot keys, bucketed co-located joins, dynamic partition pruning,
SCD2 temporal joins, lateral top-n and as-of (latest / next / nearest)
joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, SparkSession

from ..catalog import load, scratch_dir
from ..functions.exact import snap6 as _snap6
from ..functions.text import md5_bucket
from ..operators.skew import interval_overlap_join
from ..session import local_frame
from . import register


_OVERLAP_ORACLE = """
WITH l AS (
  SELECT user_id,
         CAST(floor(epoch(min(ts))) AS BIGINT) AS l_start,
         CAST(floor(epoch(max(ts))) AS BIGINT) AS l_end
  FROM events GROUP BY user_id, date_trunc('day', ts)
),
r AS (
  SELECT event_type,
         CAST(floor(epoch(min(ts))) AS BIGINT) AS r_start,
         CAST(floor(epoch(max(ts))) AS BIGINT) AS r_end
  FROM events GROUP BY event_type, date_trunc('hour', ts)
)
SELECT user_id, event_type, l_start, l_end, r_start, r_end,
       least(l_end, r_end) - greatest(l_start, r_start) AS overlap_s
FROM l JOIN r ON l_start <= r_end AND r_start <= l_end
"""


# ``join_interval_overlap``: interval x interval overlap join on the
# bucket grid (no nested-loop theta join).
@register("join_interval_overlap", oracle=_OVERLAP_ORACLE)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts")
    left = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("__d"))
        .agg(F.min(epoch).alias("l_start"), F.max(epoch).alias("l_end"))
        .drop("__d")
    )
    right = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("__h"))
        .agg(F.min(epoch).alias("r_start"), F.max(epoch).alias("r_end"))
        .drop("__h")
    )
    pairs = interval_overlap_join(left, right, bucket_width=3600)
    return pairs.select(
        "user_id", "event_type", "l_start", "l_end", "r_start", "r_end",
        (F.least("l_end", "r_end") - F.greatest("l_start", "r_start"))
        .alias("overlap_s"),
    )


_FUZZY_ORACLE = """
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 6
"""


@register("join_fuzzy_levenshtein", oracle=_FUZZY_ORACLE)
def join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        "p_brand", "p_size",
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        "p_brand", "p_size",
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, ["p_brand", "p_size"])
        .filter((F.col("key_a") < F.col("key_b")) & (dist <= 6))
        .select("key_a", "key_b", "name_a", "name_b", dist.alias("edit_dist"))
    )


_LEFT_ORACLE = """
SELECT c.c_custkey, c.c_mktsegment,
       count(o.o_orderkey)                         AS n_orders,
       round(coalesce(sum(o.o_totalprice), 0), 2)  AS total_spend
FROM customer c
LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_mktsegment
"""


@register("join_left_outer", oracle=_LEFT_ORACLE)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spend"),
        )
    )


_SEMI_ORACLE = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
"""


@register("join_semi", oracle=_SEMI_ORACLE)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


_ANTI_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
"""


@register("join_anti", oracle=_ANTI_ORACLE)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


_THETA_ORACLE = """
SELECT a.p_brand,
       count(*) AS n_pairs,
       round(avg(a.p_retailprice - b.p_retailprice), 4) AS avg_gap
FROM part a
JOIN part b
  ON a.p_brand = b.p_brand AND a.p_retailprice > b.p_retailprice
GROUP BY a.p_brand
"""


@register("join_theta_price_pairs", oracle=_THETA_ORACLE)
def join_theta_price_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = load(spark, sf_dir, "part").alias("a")
    b = load(spark, sf_dir, "part").alias("b")
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_retailprice") > F.col("b.p_retailprice")),
        )
        .groupBy(F.col("a.p_brand").alias("p_brand"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg(F.col("a.p_retailprice") - F.col("b.p_retailprice")), 4).alias("avg_gap"),
        )
    )


_ASOF_ORACLE = """
WITH snap AS (
  SELECT o_custkey AS user_id, o_orderdate,
         max(o_orderkey) AS o_orderkey,
         max_by(o_totalprice, o_orderkey) AS o_totalprice
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, s.o_orderkey,
       round(s.o_totalprice, 2) AS snap_price
FROM events e
ASOF JOIN snap s ON e.user_id = s.user_id AND e.ts >= s.o_orderdate
"""


@register("asof_join_latest_order", oracle=_ASOF_ORACLE)
def asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_backward

    events = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    snap = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
    )
    joined = asof_join_backward(
        events, snap, on="user_id", left_ts="ts", right_ts="o_orderdate",
        payload_cols=["o_orderkey", "o_totalprice"], how="inner",
    )
    return joined.select(
        "event_id", "user_id", "o_orderkey",
        F.round("o_totalprice", 2).alias("snap_price"),
    )


_FULL_ORACLE = """
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       round(o.o_totalprice, 2) AS total_price
FROM (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
FULL OUTER JOIN
     (SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1996-01-01') o
  ON c.c_custkey = o.o_custkey
"""


@register("join_full_outer", oracle=_FULL_ORACLE)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1996-01-01")
        )
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "outer")
        .select(
            "c_custkey", "c_name", "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
        )
    )


#: Revenue is summed in exact integer CENTS (per-row double product ->
#: round -> bigint) rather than rounding a double sum: with thousands
#: of rows per group, double accumulation order differs between
#: engines by 1 ulp and round(sum, 2) lands on different cents. The
#: per-row product+round is bitwise-identical in both engines (same
#: IEEE ops, both round half-away-from-zero), and bigint sums are
#: order-independent. This is also the right 100 TB shape: long sums
#: are associative, so partial aggregation is exact.
_NATION_PAIRS_ORACLE = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l.l_shipdate) AS ship_year,
       sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)::BIGINT)
         / 100.0 AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
WHERE n1.n_name < n2.n_name
GROUP BY 1, 2, 3
"""


@register("join_nation_pairs_revenue", oracle=_NATION_PAIRS_ORACLE)
def join_nation_pairs_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            (
                F.sum(
                    F.round(
                        F.col("l_extendedprice")
                        * (1 - F.col("l_discount")) * 100
                    ).cast("long")
                ) / 100.0
            ).alias("revenue")
        )
    )


_RANGE_BAND_ORACLE = """
SELECT b.tier, count(*) AS n_orders,
       round(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) / 100.0, 2) AS tier_revenue
FROM orders o
JOIN (VALUES ('budget',   0.0,      75000.0),
             ('mid',      75000.0,  200000.0),
             ('premium',  200000.0, 350000.0),
             ('luxury',   350000.0, 600000.0)) AS b(tier, lo, hi)
  ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
GROUP BY b.tier
ORDER BY tier
"""


@register("join_range_price_bands", oracle=_RANGE_BAND_ORACLE)
def join_range_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import range_bucket_join

    orders = load(spark, sf_dir, "orders")
    bands = local_frame(
        spark,
        [("budget", 0.0, 75000.0), ("mid", 75000.0, 200000.0),
         ("premium", 200000.0, 350000.0), ("luxury", 350000.0, 600000.0)],
        "tier string, lo double, hi double",
    )
    joined = range_bucket_join(
        orders, "o_totalprice", bands, "lo", "hi", bucket_width=25000.0
    )
    return (
        joined.groupBy("tier")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2
            ).alias("tier_revenue"),
        )
        .orderBy("tier")
    )


_LATERAL_ORACLE = """
SELECT c.c_custkey, o.o_orderkey, o.o_orderdate
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_orderdate
  FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_orderdate DESC, o_orderkey
  LIMIT 2
) o
WHERE c.c_custkey <= 200
"""


@register("join_lateral_recent_orders", oracle=_LATERAL_ORACLE)
def join_lateral_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "customer").createOrReplaceTempView("__lat_cust")
    load(spark, sf_dir, "orders").createOrReplaceTempView("__lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_orderdate
        FROM __lat_cust c,
        LATERAL (
          SELECT o_orderkey, o_orderdate
          FROM __lat_orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_orderdate DESC, o_orderkey
          LIMIT 2
        ) o
        WHERE c.c_custkey <= 200
        """
    )


_ASOF_FWD_ORACLE = """
WITH probe AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
),
snap AS (
  SELECT user_id, ts AS p_ts, max(event_id) AS purchase_event_id
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT p.event_id, p.user_id, s.purchase_event_id,
       CAST(date_diff('second', p.ts, s.p_ts) AS BIGINT) AS secs_to_purchase
FROM probe p
ASOF JOIN snap s
  ON p.user_id = s.user_id AND p.ts <= s.p_ts
"""


@register("asof_join_next_purchase", oracle=_ASOF_FWD_ORACLE)
def asof_join_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_forward

    ev = load(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    snap = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("p_ts"))
        .agg(F.max("event_id").alias("purchase_event_id"))
    )
    joined = asof_join_forward(
        probe, snap, on="user_id", left_ts="ts", right_ts="p_ts",
        payload_cols=["purchase_event_id", "p_ts"], how="inner",
    )
    return joined.select(
        "event_id", "user_id", "purchase_event_id",
        (F.unix_timestamp(F.col("p_ts")) - F.unix_timestamp(F.col("ts")))
        .cast("long").alias("secs_to_purchase"),
    )


_SCD2_ORACLE = """
WITH dim AS (
  SELECT o_custkey AS custkey, o_orderdate AS eff_date,
         max_by(o_orderpriority, o_orderkey) AS priority
  FROM orders GROUP BY o_custkey, o_orderdate
),
facts AS (
  SELECT l_orderkey, l_linenumber, o_custkey AS custkey, l_shipdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT f.l_orderkey, f.l_linenumber, f.custkey, f.l_shipdate,
       d.priority AS active_priority
FROM facts f
ASOF JOIN dim d
  ON f.custkey = d.custkey AND f.l_shipdate >= d.eff_date
"""


@register("join_scd2_temporal", oracle=_SCD2_ORACLE)
def join_scd2_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_backward

    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    dim = orders.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("eff_date"),
    ).agg(F.max_by("o_orderpriority", "o_orderkey").alias("priority"))
    facts = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("l_orderkey", "l_linenumber",
                F.col("o_custkey").alias("custkey"), "l_shipdate")
    )
    joined = asof_join_backward(
        facts, dim, on="custkey", left_ts="l_shipdate", right_ts="eff_date",
        payload_cols=["priority"], how="inner",
    )
    return joined.select(
        "l_orderkey", "l_linenumber", "custkey", "l_shipdate",
        F.col("priority").alias("active_priority"),
    )


_SALTED_ORACLE = """
SELECT s.s_nationkey,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_nationkey
ORDER BY s.s_nationkey
"""


@register("join_salted_hot_keys", oracle=_SALTED_ORACLE)
def join_salted_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    li = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    supp = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    return (
        salted_join(li, supp, on="l_suppkey", n_salts=8)
        .groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
        .orderBy("s_nationkey")
    )


_BLOOM_WORDS = 1024


_BLOOM_BPW = 63


_BLOOM_M = _BLOOM_WORDS * _BLOOM_BPW


def _bloom_pos(key_col, i: int):
    """Probe i's bit index in [0, m): 8 md5 hex digits -> int -> mod m."""
    s = F.concat(F.lit(f"bloom{i}:"), key_col.cast("string"))
    return F.pmod(
        F.conv(F.substring(F.md5(s.cast("binary")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(_BLOOM_M),
    )


def _bloom_pos_sql(key: str, i: int) -> str:
    return (f"(CAST('0x' || substr(md5('bloom{i}:' || CAST({key} AS VARCHAR))"
            f", 1, 8) AS BIGINT) % {_BLOOM_M})")


_BLOOM_ORACLE = f"""
WITH keys AS (
  SELECT o_orderkey
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE c_mktsegment = 'BUILDING' AND r_name = 'AMERICA'
),
probes AS (
  SELECT {_bloom_pos_sql('o_orderkey', 0)} AS pos FROM keys
  UNION ALL
  SELECT {_bloom_pos_sql('o_orderkey', 1)} FROM keys
),
words AS (
  SELECT pos // {_BLOOM_BPW} AS w,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % {_BLOOM_BPW} AS INT)) AS v
  FROM probes GROUP BY 1
),
li AS (
  SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS rev,
         {_bloom_pos_sql('l_orderkey', 0)} AS p0,
         {_bloom_pos_sql('l_orderkey', 1)} AS p1
  FROM lineitem
),
flagged AS (
  SELECT li.rev,
         COALESCE((w0.v >> CAST(p0 % {_BLOOM_BPW} AS INT)) & 1, 0) = 1
           AND COALESCE((w1.v >> CAST(p1 % {_BLOOM_BPW} AS INT)) & 1, 0) = 1
           AS passed,
         li.l_orderkey IN (SELECT o_orderkey FROM keys) AS matched
  FROM li
  LEFT JOIN words w0 ON w0.w = p0 // {_BLOOM_BPW}
  LEFT JOIN words w1 ON w1.w = p1 // {_BLOOM_BPW}
)
SELECT count(*) AS n_lineitem,
       CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_pass,
       CAST(sum(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
       CAST(sum(CASE WHEN passed AND NOT matched THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos,
       CAST(sum(CASE WHEN matched AND NOT passed THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_neg,
       round(sum(CASE WHEN matched THEN rev ELSE 0 END), 2) AS revenue
FROM flagged
"""


@register("join_bloom_prefilter", oracle=_BLOOM_ORACLE)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered selective join: lineitems of BUILDING-segment
    orders. The emitted row is the filter's own audit: big-side rows,
    bloom survivors, exact matches, false positives, false NEGATIVES
    (must be 0 — blooms never drop a member; the oracle recomputes the
    same zero), and revenue over the exact survivors.

    The collect() here is the bloom's 1024 words — bounded model state
    (~8 KB at any key count), the same pattern as the DSIR literal
    model, NOT a data collect.
    """
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = (
        load(spark, sf_dir, "region")
        .filter(F.col("r_name") == "AMERICA").select("r_regionkey")
    )
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(nation.join(F.broadcast(region),
                                      nation["n_regionkey"]
                                      == region["r_regionkey"])),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    # pinned: the selective chain feeds TWO jobs (the eager bloom-word
    # build and the broadcast exact verify) — without this every
    # invocation re-runs the 4-table join
    keys = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    ).select("o_orderkey").localCheckpoint(eager=True)

    words = (
        keys.select(
            F.explode(
                F.array(_bloom_pos(F.col("o_orderkey"), 0),
                        _bloom_pos(F.col("o_orderkey"), 1))
            ).alias("pos")
        )
        .selectExpr(
            f"pos div {_BLOOM_BPW} AS w",
            f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_BPW} AS INT))"
            " AS bitval",
        )
        .groupBy("w").agg(F.expr("bit_or(bitval)").alias("v"))
        .collect()
    )
    arr = [0] * _BLOOM_WORDS
    for r in words:
        arr[int(r["w"])] = int(r["v"])

    from ..operators.skew import spread_input

    # spread: the probe side computes two md5s per lineitem row and a
    # single-file source would run all ~1.2M of them on one core
    li = spread_input(load(spark, sf_dir, "lineitem")).select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        _bloom_pos(F.col("l_orderkey"), 0).alias("p0"),
        _bloom_pos(F.col("l_orderkey"), 1).alias("p1"),
    ).withColumn("bloom", F.array(*[F.lit(v).cast("long") for v in arr]))
    bit = (
        "((shiftright(element_at(bloom, CAST(p{i} div %d AS INT) + 1), "
        "CAST(p{i} %% %d AS INT)) & 1) = 1)" % (_BLOOM_BPW, _BLOOM_BPW)
    )
    li = li.withColumn(
        "passed", F.expr(bit.format(i=0)) & F.expr(bit.format(i=1))
    )
    flagged = li.join(
        F.broadcast(keys.withColumn("m", F.lit(1))),
        li["l_orderkey"] == keys["o_orderkey"], "left",
    ).withColumn("matched", F.col("m") == 1)
    return flagged.agg(
        F.count(F.lit(1)).alias("n_lineitem"),
        F.sum(F.when(F.col("passed"), 1).otherwise(0)).alias("n_bloom_pass"),
        F.sum(F.when(F.col("matched"), 1).otherwise(0)).alias("n_match"),
        F.sum(F.when(F.col("passed") & ~F.coalesce("matched", F.lit(False)),
                     1).otherwise(0)).alias("n_false_pos"),
        F.sum(F.when(F.coalesce("matched", F.lit(False)) & ~F.col("passed"),
                     1).otherwise(0)).alias("n_false_neg"),
        F.round(F.sum(F.when(F.col("matched"), F.col("rev")).otherwise(0.0)),
                2).alias("revenue"),
    )


_NEAREST_TOL_S = 3600


_NEAREST_TOL_US = _NEAREST_TOL_S * 1_000_000


_ASOF_NEAREST_ORACLE = f"""
WITH probe AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
),
snap AS (
  SELECT user_id, ts AS p_ts, max(event_id) AS purchase_event_id
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
b AS (
  SELECT p.event_id, p.user_id, p.ts,
         s.purchase_event_id AS b_id,
         date_diff('microsecond', s.p_ts, p.ts) AS db
  FROM probe p ASOF LEFT JOIN snap s
    ON p.user_id = s.user_id AND p.ts >= s.p_ts
),
f AS (
  SELECT p.event_id,
         s.purchase_event_id AS f_id,
         date_diff('microsecond', p.ts, s.p_ts) AS df
  FROM probe p ASOF LEFT JOIN snap s
    ON p.user_id = s.user_id AND p.ts <= s.p_ts
),
j AS (
  SELECT b.event_id, b.user_id, b.b_id, b.db, f.f_id, f.df,
         (b.b_id IS NOT NULL AND b.db <= {_NEAREST_TOL_US}) AS bok,
         (f.f_id IS NOT NULL AND f.df <= {_NEAREST_TOL_US}) AS fok
  FROM b JOIN f USING (event_id)
)
SELECT event_id, user_id,
       CASE WHEN bok AND (NOT fok OR db <= df) THEN b_id
            ELSE f_id END AS purchase_event_id,
       CAST(CASE WHEN bok AND (NOT fok OR db <= df) THEN -db
                 ELSE df END AS BIGINT) AS delta_us
FROM j WHERE bok OR fok
ORDER BY event_id
"""


@register("asof_join_nearest_purchase", oracle=_ASOF_NEAREST_ORACLE)
def asof_join_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each error event matched to the NEAREST purchase event of the
    same user on either side of it, within a 1-hour tolerance; ties
    resolve backward; `delta_us` is signed (negative = purchase
    preceded the error). See operators/asof.asof_join_nearest for the
    one-shuffle two-sort plan."""
    from ..operators.asof import asof_join_nearest

    events = load(spark, sf_dir, "events")
    probe = events.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    snap = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("p_ts"))
        .agg(F.max("event_id").alias("purchase_event_id"))
    )
    joined = asof_join_nearest(
        probe, snap, on="user_id", left_ts="ts", right_ts="p_ts",
        payload_cols=["purchase_event_id"],
        tolerance_seconds=_NEAREST_TOL_S, how="inner",
    )
    return joined.select(
        "event_id", "user_id", "purchase_event_id",
        F.col("__delta_us").cast("long").alias("delta_us"),
    ).orderBy("event_id")


_DPP_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents
FROM orders
WHERE month(o_orderdate) IN (1, 2, 3)
GROUP BY o_month
ORDER BY o_month
"""


@register("join_dpp_partitioned_fact", oracle=_DPP_ORACLE)
def join_dpp_partitioned_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1-quarter rollup of a month-partitioned fact, driven through a
    broadcast month-dim filter so Spark's dynamic partition pruning
    (not a static predicate) prunes the fact directories."""
    orders = load(spark, sf_dir, "orders")
    fact_path = scratch_dir("dpp_fact", sf_dir)
    (
        orders.withColumn(
            "o_month", F.date_format("o_orderdate", "yyyy-MM")
        ).write.mode("overwrite").partitionBy("o_month").parquet(fact_path)
    )
    fact = spark.read.parquet(fact_path)

    months = (
        orders.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("o_month"),
            F.quarter("o_orderdate").alias("quarter"),
        ).distinct()
    )
    dim = months.filter(F.col("quarter") == 1)

    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return (
        fact.join(F.broadcast(dim), "o_month")
        .groupBy("o_month")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum(cents).alias("sum_cents"))
        .orderBy("o_month")
    )


_BUCKETED_ORACLE = """
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100
                           + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


@register("join_bucketed_colocated", oracle=_BUCKETED_ORACLE)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publish orders and lineitem bucketed (8 buckets, sorted) on the
    order key as external tables, then run the priority revenue rollup
    over the CO-LOCATED join. At warehouse scale the publish is the
    one-time layout investment; every subsequent orderkey join rides
    it shuffle-free."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    for name, df, key in (
        ("bkt_orders", orders.select("o_orderkey", "o_orderpriority"),
         "o_orderkey"),
        ("bkt_lineitem", lineitem, "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        path = scratch_dir(name, sf_dir)
        (
            df.write.bucketBy(8, key).sortBy(key)
            .option("path", path).mode("overwrite").saveAsTable(name)
        )

    rev = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        + F.lit(0.5)
    ).cast("long")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = (
            spark.table("bkt_orders")
            .join(spark.table("bkt_lineitem"),
                  F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.sum(rev).alias("rev_cents"))
            .orderBy("o_orderpriority")
        )
        # the plan (incl. the no-Exchange join) is fixed at analysis
        # time while the conf override is active; restoring the conf
        # afterwards does not re-plan the returned frame
        out._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return out


_R = 0.02


_GRID_TOPK = 50


def _coord_sql(key: str, axis: str) -> str:
    return (f"CAST(CAST('0x' || substr(md5(CAST({key} AS VARCHAR) "
            f"|| ':{axis}'), 1, 6) AS BIGINT) % 10000 AS DOUBLE) / 10000.0")


_SPATIAL_ORACLE = f"""
WITH cust_pts AS (
  SELECT c_custkey, {_coord_sql('c_custkey', 'cx')} AS x,
         {_coord_sql('c_custkey', 'cy')} AS y
  FROM customer
),
supp_pts AS (
  SELECT s_suppkey, {_coord_sql('s_suppkey', 'sx')} AS x,
         {_coord_sql('s_suppkey', 'sy')} AS y
  FROM supplier
),
pairs AS (
  SELECT a.c_custkey, b.s_suppkey,
         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
  FROM cust_pts a, supp_pts b
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        <= {_R} * {_R}
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs)
SELECT c_custkey, s_suppkey,
       floor(sqrt(d2) * 1e6 + 0.5) / 1e6 AS dist_s,
       tot.n_pairs
FROM pairs, tot
ORDER BY dist_s, c_custkey, s_suppkey
LIMIT {_GRID_TOPK}
"""


def md5_points(df: DataFrame, key: str, ax: str, ay: str) -> DataFrame:
    """Deterministic unit-square points from a key column (k/10000 --
    exactly representable the same way in both engines)."""
    k = F.col(key).cast("string")
    return df.select(
        key,
        (md5_bucket(F.concat(k, F.lit(f":{ax}")), 10000)
         .cast("double") / 10000.0).alias("x"),
        (md5_bucket(F.concat(k, F.lit(f":{ay}")), 10000)
         .cast("double") / 10000.0).alias("y"),
    )


@register("join_spatial_grid", oracle=_SPATIAL_ORACLE)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius join customers x suppliers via grid-cell bucketing +
    3x3 neighbor probe; oracle = the naive quadratic join."""
    from ..operators.spatial import grid_radius_pairs

    cust = md5_points(load(spark, sf_dir, "customer"),
                      "c_custkey", "cx", "cy")
    supp = md5_points(load(spark, sf_dir, "supplier"),
                      "s_suppkey", "sx", "sy")
    pairs = (
        grid_radius_pairs(cust, supp, _R, "c_custkey", "s_suppkey")
        .localCheckpoint(eager=True)  # count + top-k reuse
    )
    tot = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    return (
        pairs.crossJoin(F.broadcast(tot))
        .select("c_custkey", "s_suppkey",
                _snap6(F.sqrt("d2")).alias("dist_s"), "n_pairs")
        .orderBy("dist_s", "c_custkey", "s_suppkey")
        .limit(_GRID_TOPK)
    )
