"""Data-governance surface (``gov_``): privacy and compliance audits.

k-anonymity and l-diversity audits, subject-access and erasure-impact
reports, and differentially private noisy counts with deterministic
(md5-seeded) noise so the DuckDB oracle reproduces it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, SparkSession

from ..catalog import load
from ..functions.exact import epoch_day as _epoch_day, snap6 as _snap6
from ..functions.text import md5_bucket
from ..session import checkpoint
from . import register


_KANON_K = 5


_KANON_ORACLE = f"""
WITH classes AS (
  SELECT c_mktsegment,
         CAST(count(*) AS BIGINT) AS k
  FROM (SELECT c_mktsegment, c_nationkey,
               CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
        FROM customer)
  GROUP BY c_mktsegment, c_nationkey, bal_band
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_singletons,
       CAST(sum(CASE WHEN k < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_small_classes,
       CAST(sum(CASE WHEN k < {_KANON_K} THEN k ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       CAST(sum(k) AS BIGINT) AS n_rows
FROM classes
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("gov_k_anonymity_audit", oracle=_KANON_ORACLE)
def gov_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment k-anonymity risk report over the
    (nation, segment, balance-band) quasi-identifier."""
    cust = load(spark, sf_dir, "customer")
    classes = (
        cust.select(
            "c_mktsegment", "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000.0).cast("long")
            .alias("bal_band"))
        .groupBy("c_mktsegment", "c_nationkey", "bal_band")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    small = F.col("k") < _KANON_K
    return (
        classes.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.min("k").alias("min_k"),
            F.sum(F.when(F.col("k") == 1, 1).otherwise(0)).cast("long")
            .alias("n_singletons"),
            F.sum(F.when(small, 1).otherwise(0)).cast("long")
            .alias("n_small_classes"),
            F.sum(F.when(small, F.col("k")).otherwise(0)).cast("long")
            .alias("rows_at_risk"),
            F.sum("k").cast("long").alias("n_rows"),
        )
        .orderBy("c_mktsegment")
    )


_LDIV_K = 2


_LDIV_ORACLE = f"""
WITH cls AS (
  SELECT c_nationkey, bal_band,
         CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l,
         CAST(count(*) AS BIGINT) AS k
  FROM (SELECT c_nationkey,
               CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
               c_mktsegment
        FROM customer)
  GROUP BY c_nationkey, bal_band
)
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(l) AS BIGINT) AS min_l,
       CAST(sum(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_homogeneous,
       CAST(sum(CASE WHEN l < {_LDIV_K} THEN k ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       CAST(sum(k) AS BIGINT) AS n_rows
FROM cls
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


@register("gov_l_diversity_audit", oracle=_LDIV_ORACLE)
def gov_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation l-diversity report over (nation, balance-band)
    classes with market segment as the sensitive attribute."""
    cust = load(spark, sf_dir, "customer")
    cls = (
        cust.select(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000.0).cast("long")
            .alias("bal_band"),
            "c_mktsegment",
        )
        .groupBy("c_nationkey", "bal_band")
        .agg(
            F.countDistinct("c_mktsegment").cast("long").alias("l"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
    )
    return (
        cls.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.min("l").alias("min_l"),
            F.sum(F.when(F.col("l") == 1, 1).otherwise(0)).cast("long")
            .alias("n_homogeneous"),
            F.sum(F.when(F.col("l") < _LDIV_K, F.col("k")).otherwise(0))
            .cast("long").alias("rows_at_risk"),
            F.sum("k").cast("long").alias("n_rows"),
        )
        .orderBy("c_nationkey")
    )


_DP_EPS = 1.0


_DP_ORACLE = f"""
WITH c AS (
  SELECT source, CAST(count(*) AS BIGINT) AS true_n FROM documents
  GROUP BY source
),
u AS (
  SELECT source, true_n,
         (CAST(CAST('0x' || substr(md5(source || ':dp'), 1, 6) AS BIGINT)
               % 999999 AS DOUBLE) - 499999.0) / 1000000.0 AS u
  FROM c
)
SELECT source, true_n,
       floor((CASE WHEN u = 0 THEN 0.0
                   WHEN u > 0 THEN -(1.0 / {_DP_EPS}) * ln(1.0 - 2.0 * u)
                   ELSE (1.0 / {_DP_EPS}) * ln(1.0 + 2.0 * u)
              END) * 1e6 + 0.5) / 1e6 AS noise_s,
       true_n + floor((CASE WHEN u = 0 THEN 0.0
                   WHEN u > 0 THEN -(1.0 / {_DP_EPS}) * ln(1.0 - 2.0 * u)
                   ELSE (1.0 / {_DP_EPS}) * ln(1.0 + 2.0 * u)
              END) * 1e6 + 0.5) / 1e6 AS noisy_n_s
FROM u
ORDER BY source
"""


@register("gov_dp_noisy_counts", oracle=_DP_ORACLE)
def gov_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism per-source counts with a deterministic
    md5-derived noise draw (portable inverse-CDF)."""
    docs = load(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("true_n"))
    u = (
        (md5_bucket(F.concat(F.col("source"), F.lit(":dp")), 999999)
         .cast("double") - 499999.0) / 1000000.0
    )
    b = 1.0 / _DP_EPS
    noise = F.when(u == 0, F.lit(0.0)).when(
        u > 0, -b * F.log(1.0 - 2.0 * u)
    ).otherwise(b * F.log(1.0 + 2.0 * u))
    noise_s = _snap6(noise)
    return c.select(
        "source", "true_n",
        noise_s.alias("noise_s"),
        (F.col("true_n") + noise_s).alias("noisy_n_s"),
    ).orderBy("source")


_ERASE_PCT = 5


_ERASURE_ORACLE = f"""
WITH doomed AS (
  SELECT c_custkey FROM customer
  WHERE CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':erase'),
                            1, 6) AS BIGINT) % 100 < {_ERASE_PCT}
),
doomed_orders AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM doomed)
),
c AS (SELECT CAST(count(*) AS BIGINT) AS total FROM customer),
o AS (SELECT CAST(count(*) AS BIGINT) AS total FROM orders),
l AS (SELECT CAST(count(*) AS BIGINT) AS total FROM lineitem),
pc AS (SELECT CAST(count(*) AS BIGINT) AS purged FROM doomed),
po AS (SELECT CAST(count(*) AS BIGINT) AS purged FROM doomed_orders),
pl AS (
  SELECT CAST(count(*) AS BIGINT) AS purged FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM doomed_orders)
)
SELECT tbl, n_total, n_purged,
       floor(CAST(n_purged AS DOUBLE) / n_total * 1e6 + 0.5) / 1e6
         AS purge_rate_s,
       n_total - n_purged AS n_after
FROM (
  SELECT 'customer' AS tbl, c.total AS n_total, pc.purged AS n_purged
  FROM c, pc
  UNION ALL SELECT 'orders', o.total, po.purged FROM o, po
  UNION ALL SELECT 'lineitem', l.total, pl.purged FROM l, pl
)
ORDER BY tbl
"""


@register("gov_erasure_impact", oracle=_ERASURE_ORACLE)
def gov_erasure_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table cascade impact of erasing an md5-coined 5% customer
    set: totals, purged counts, rates, post-sweep counts."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    doomed = checkpoint(cust.filter(
        md5_bucket(F.concat(F.col("c_custkey").cast("string"),
                            F.lit(":erase")), 100) < _ERASE_PCT
    ).select("c_custkey"))  # 2 consumers
    doomed_orders = checkpoint(
        orders.join(F.broadcast(doomed),
                    orders.o_custkey == doomed.c_custkey, "left_semi")
        .select("o_orderkey")  # count + the lineitem semi-join
    )
    purged_li = li.join(F.broadcast(doomed_orders),
                        li.l_orderkey == doomed_orders.o_orderkey,
                        "left_semi")

    def row(tbl: str, total_df: DataFrame, purged_df: DataFrame):
        t = total_df.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
        p = purged_df.agg(F.count(F.lit(1)).cast("long")
                          .alias("n_purged"))
        return (t.crossJoin(p)
                .select(F.lit(tbl).alias("tbl"), "n_total", "n_purged"))

    out = (
        row("customer", cust, doomed)
        .unionByName(row("orders", orders, doomed_orders))
        .unionByName(row("lineitem", li, purged_li))
    )
    return out.select(
        "tbl", "n_total", "n_purged",
        _snap6(F.col("n_purged").cast("double") / F.col("n_total"))
        .alias("purge_rate_s"),
        (F.col("n_total") - F.col("n_purged")).alias("n_after"),
    ).orderBy("tbl")


_SAR_ORACLE = f"""
WITH po AS (
  SELECT o_custkey AS ck,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(floor(o_totalprice * 100 + 0.5)) AS BIGINT)
           AS spend_cents,
         CAST(min(date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE))) AS BIGINT)
           AS first_day,
         CAST(max(date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE))) AS BIGINT)
           AS last_day
  FROM orders GROUP BY o_custkey
),
pl AS (
  SELECT o.o_custkey AS ck, CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_custkey
)
SELECT c.c_custkey,
       n.n_name,
       COALESCE(po.n_orders, 0) AS n_orders,
       COALESCE(pl.n_lines, 0) AS n_lines,
       COALESCE(po.spend_cents, 0) AS spend_cents,
       po.first_day, po.last_day
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
LEFT JOIN po ON po.ck = c.c_custkey
LEFT JOIN pl ON pl.ck = c.c_custkey
ORDER BY c.c_custkey
"""


@register("gov_subject_access_report", oracle=_SAR_ORACLE)
def gov_subject_access_report(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Per-subject data inventory: order/line counts, exact spend
    cents, first/last activity days; inactive subjects included."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    day = _epoch_day("o_orderdate")
    po = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)).cast("long")
        .alias("spend_cents"),
        F.min(day).cast("long").alias("first_day"),
        F.max(day).cast("long").alias("last_day"),
    )
    pl = (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_lines"))
    )
    return (
        cust.join(F.broadcast(nation),
                  cust.c_nationkey == nation.n_nationkey)
        .join(po, cust.c_custkey == po.ck, "left")
        .join(pl, cust.c_custkey == pl.ck, "left")
        .select(
            "c_custkey", "n_name",
            F.coalesce("n_orders", F.lit(0)).cast("long")
            .alias("n_orders"),
            F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce("spend_cents", F.lit(0)).cast("long")
            .alias("spend_cents"),
            "first_day", "last_day",
        )
        .orderBy("c_custkey")
    )
