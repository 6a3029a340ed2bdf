"""Order-book analytics (``orders_``, ``part_``, ``supplier_``, ``sales_``, ``basket_``).

Commerce reads over orders, lineitem, part and supplier: backlog and
cohort value, ABC classes, discount allocation, promotion lift,
duplicate-payment screens, Pareto skylines, price indices,
concentration indices and market-basket lift. Money is summed as
exact integer cents so both engines agree bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, SparkSession, Window as W

from ..catalog import load
from ..functions.exact import (
    epoch_day as _epoch_day, FIXTURE_SPLIT_DAY as _DID_SPLIT_DAY,
    FIXTURE_SPLIT_DAY as _PRICE_SPLIT_DAY, snap6 as _snap6,
)
from ..session import checkpoint
from . import register


_BASKET_ORACLE = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n_ord AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n
          FROM baskets),
brand_n AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_b FROM baskets
            GROUP BY p_brand),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2
)
SELECT brand_a, brand_b, n_ab,
       floor(CAST(n_ab AS DOUBLE) / n_ord.n * 1e6 + 0.5) / 1e6
         AS support_s,
       floor(CAST(n_ab AS DOUBLE) / na.n_b * 1e6 + 0.5) / 1e6
         AS confidence_s,
       floor(CAST(n_ab AS DOUBLE) * n_ord.n / (na.n_b * nb.n_b)
             * 1e6 + 0.5) / 1e6 AS lift_s
FROM pairs
JOIN brand_n na ON na.p_brand = brand_a
JOIN brand_n nb ON nb.p_brand = brand_b, n_ord
WHERE n_ab * 1000 >= n_ord.n
ORDER BY lift_s DESC, brand_a, brand_b
LIMIT 20
"""


@register("basket_brand_lift", oracle=_BASKET_ORACLE)
def basket_brand_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-pair support/confidence/lift over order baskets, top 20
    by lift above a fractional min-support cut."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    baskets = checkpoint(
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                li.l_partkey == F.col("p_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()  # pair self-join + marginals reuse
    )
    n_ord = baskets.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n"))
    brand_n = baskets.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.p_brand") < F.col("b.p_brand")))
        .groupBy(F.col("a.p_brand").alias("brand_a"),
                 F.col("b.p_brand").alias("brand_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    na = brand_n.select(F.col("p_brand").alias("brand_a"),
                        F.col("n_b").alias("n_a"))
    nb = brand_n.select(F.col("p_brand").alias("brand_b"),
                        F.col("n_b").alias("n_b2"))
    return (
        pairs.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb), "brand_b")
        .crossJoin(F.broadcast(n_ord))
        .filter(F.col("n_ab") * 1000 >= F.col("n"))
        .select(
            "brand_a", "brand_b", "n_ab",
            _snap6(F.col("n_ab").cast("double") / F.col("n"))
            .alias("support_s"),
            _snap6(F.col("n_ab").cast("double") / F.col("n_a"))
            .alias("confidence_s"),
            _snap6(F.col("n_ab").cast("double") * F.col("n")
                   / (F.col("n_a") * F.col("n_b2"))).alias("lift_s"),
        )
        .orderBy(F.col("lift_s").desc(), "brand_a", "brand_b")
        .limit(20)
    )


_GINI_ORACLE = """
WITH rev AS (
  SELECT r.r_name AS region, c.c_custkey,
         CAST(COALESCE(sum(CAST(floor(o.o_totalprice * 100 + 0.5)
                                AS BIGINT)), 0) AS BIGINT) AS cents
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT region, cents,
         row_number() OVER (PARTITION BY region
                            ORDER BY cents, c_custkey) AS i
  FROM rev
)
SELECT region,
       CAST(count(*) AS BIGINT) AS n_cust,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       floor((2.0 * CAST(sum(i * cents) AS DOUBLE)
                / (count(*) * CAST(sum(cents) AS DOUBLE))
              - (count(*) + 1.0) / count(*)) * 1e6 + 0.5) / 1e6 AS gini_s
FROM ranked
GROUP BY region
ORDER BY region
"""


@register("sales_gini_by_region", oracle=_GINI_ORACLE)
def sales_gini_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of per-customer revenue inside each
    region, zeros included, integer-cents rank formula."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    orders = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    rev = (
        cust.join(F.broadcast(nation),
                  cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region),
              F.col("n_regionkey") == region.r_regionkey)
        .join(orders.select("o_custkey", cents.alias("o_cents")),
              cust.c_custkey == F.col("o_custkey"), "left")
        .groupBy(F.col("r_name").alias("region"), "c_custkey")
        .agg(F.coalesce(F.sum("o_cents"), F.lit(0)).cast("long")
             .alias("cents"))
    )
    # region has 5 values: a per-region rank window would funnel a
    # fifth of the customer universe through one task. grouped_rank
    # rides the checkpointed global_rank layout instead.
    from ..operators.ranking import grouped_rank

    # region: constant-size TPC-H dim (5 rows) -- skip the probe job.
    ranked = grouped_rank(rev, ["region"], ["cents", "c_custkey"], "i",
                          known_group_count=8)
    return (
        ranked.groupBy("region")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cust"),
            F.sum("cents").cast("long").alias("total_cents"),
            _snap6(
                2.0 * F.sum((F.col("i") * F.col("cents"))
                            .cast("decimal(38,0)")).cast("double")
                / (F.count(F.lit(1)) * F.sum("cents").cast("double"))
                - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1))
            ).alias("gini_s"),
        )
        .orderBy("region")
    )


_LTV_ORACLE = """
WITH first_ord AS (
  SELECT o_custkey,
         CAST(min(date_part('year', o_orderdate) * 12
                  + date_part('month', o_orderdate)) AS BIGINT) AS cohort
  FROM orders GROUP BY o_custkey
),
sizes AS (
  SELECT cohort, CAST(count(*) AS BIGINT) AS n_customers FROM first_ord
  GROUP BY cohort
),
rev AS (
  SELECT f.cohort,
         CAST(date_part('year', o.o_orderdate) * 12
              + date_part('month', o.o_orderdate) AS BIGINT) - f.cohort
           AS months_since,
         CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders o JOIN first_ord f ON f.o_custkey = o.o_custkey
  GROUP BY 1, 2
),
cum AS (
  SELECT cohort, months_since,
         CAST(sum(cents) OVER (PARTITION BY cohort ORDER BY months_since
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_cents
  FROM rev
)
SELECT c.cohort, c.months_since, s.n_customers, c.cum_cents,
       floor(CAST(c.cum_cents AS DOUBLE) / s.n_customers / 100.0
             * 1e6 + 0.5) / 1e6 AS avg_ltv_s
FROM cum c JOIN sizes s USING (cohort)
ORDER BY cohort, months_since
"""


@register("orders_cohort_ltv", oracle=_LTV_ORACLE)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative average revenue per customer by first-order cohort
    and months since acquisition."""
    orders = load(spark, sf_dir, "orders")
    month = (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    # sizes + the rev join reuse
    first_ord = checkpoint(
        orders.groupBy("o_custkey")
        .agg(F.min(month).cast("long").alias("cohort"))
    )
    sizes = first_ord.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"))
    rev = (
        orders.select("o_custkey", month.cast("long").alias("m"),
                      cents.alias("cents"))
        .join(first_ord, "o_custkey")
        .groupBy("cohort", (F.col("m") - F.col("cohort"))
                 .alias("months_since"))
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    w = W.partitionBy("cohort").orderBy("months_since").rowsBetween(
        W.unboundedPreceding, W.currentRow)
    return (
        rev.withColumn("cum_cents",
                       F.sum("cents").over(w).cast("long"))
        .join(F.broadcast(sizes), "cohort")
        .select(
            "cohort", "months_since", "n_customers", "cum_cents",
            _snap6(F.col("cum_cents").cast("double")
                   / F.col("n_customers") / 100.0).alias("avg_ltv_s"),
        )
        .orderBy("cohort", "months_since")
    )


_BACKLOG_ORACLE = """
WITH placed AS (
  SELECT date_diff('day', DATE '2024-01-01', o_orderdate) AS day_num,
         CAST(count(*) AS BIGINT) AS n_in
  FROM orders GROUP BY 1
),
done AS (
  SELECT o_orderkey, max(l_shipdate) AS done_date
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  GROUP BY o_orderkey
),
shipped AS (
  SELECT date_diff('day', DATE '2024-01-01', done_date) AS day_num,
         CAST(count(*) AS BIGINT) AS n_out
  FROM done GROUP BY 1
),
axis AS (
  SELECT COALESCE(p.day_num, s.day_num) AS day_num,
         COALESCE(p.n_in, 0) AS n_in, COALESCE(s.n_out, 0) AS n_out
  FROM placed p FULL OUTER JOIN shipped s ON p.day_num = s.day_num
)
SELECT day_num, n_in, n_out,
       CAST(sum(n_in - n_out) OVER (ORDER BY day_num
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS backlog
FROM axis
ORDER BY day_num
"""


@register("orders_backlog_timeseries", oracle=_BACKLOG_ORACLE)
def orders_backlog_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-of-day open-order backlog: cumulative placed minus
    fully-shipped flows on one day axis."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    day_o = F.datediff(F.col("o_orderdate"), F.to_date(F.lit("2024-01-01")))
    placed = (orders.groupBy(day_o.alias("day_num"))
              .agg(F.count(F.lit(1)).cast("long").alias("n_in")))
    done = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(F.max("l_shipdate").alias("done_date"))
    )
    day_s = F.datediff(F.col("done_date"), F.to_date(F.lit("2024-01-01")))
    shipped = (done.groupBy(day_s.alias("day_num"))
               .agg(F.count(F.lit(1)).cast("long").alias("n_out")))
    axis = (
        placed.join(shipped, "day_num", "full_outer")
        .select(
            "day_num",
            F.coalesce(F.col("n_in"), F.lit(0)).alias("n_in"),
            F.coalesce(F.col("n_out"), F.lit(0)).alias("n_out"),
        )
    )
    w = W.orderBy("day_num").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        axis.withColumn(
            "backlog",
            F.sum(F.col("n_in") - F.col("n_out")).over(w).cast("long"))
        .orderBy("day_num")
    )


_SKYLINE_ORACLE = """
WITH priced AS (
  SELECT p_partkey, p_size,
         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
  FROM part
),
cand AS (
  SELECT p_size, min(cents) AS cents FROM priced GROUP BY p_size
),
sky AS (
  SELECT p_size, cents,
         max(p_size) OVER (ORDER BY cents
                           RANGE BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS mx
  FROM cand
)
SELECT p.p_partkey, p.p_size, p.cents AS price_cents
FROM priced p JOIN sky s
  ON p.p_size = s.p_size AND p.cents = s.cents
WHERE s.p_size = s.mx
ORDER BY p.p_size, p.p_partkey
"""


@register("part_pareto_skyline", oracle=_SKYLINE_ORACLE)
def part_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline of parts on (min price, max size): distributive
    per-size min-price prune, then a bounded dominance window."""
    priced = load(spark, sf_dir, "part").select(
        "p_partkey", "p_size",
        F.floor(F.col("p_retailprice") * 100 + 0.5).cast("long")
        .alias("cents"),
    )
    cand = priced.groupBy("p_size").agg(F.min("cents").alias("cents"))
    mx = F.max("p_size").over(
        W.orderBy("cents").rangeBetween(W.unboundedPreceding, 0))
    sky = (cand.withColumn("mx", mx)
           .where(F.col("p_size") == F.col("mx"))
           .select("p_size", "cents"))
    return (
        priced.join(F.broadcast(sky), ["p_size", "cents"])
        .select("p_partkey", "p_size", F.col("cents").alias("price_cents"))
        .orderBy("p_size", "p_partkey")
    )


_ABC_ORACLE = """
WITH rev AS (
  SELECT l_partkey,
         CAST(sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5))
              AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey
),
ranked AS (
  SELECT l_partkey, cents,
         CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_cents,
         CAST(sum(cents) OVER () AS BIGINT) AS total_cents
  FROM rev
),
classed AS (
  SELECT *,
         CASE WHEN cum_cents * 100 <= 80 * total_cents THEN 'A'
              WHEN cum_cents * 100 <= 95 * total_cents THEN 'B'
              ELSE 'C' END AS abc
  FROM ranked
)
SELECT abc,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(cents) AS BIGINT) AS revenue_cents,
       CAST(min(cum_cents) AS BIGINT) AS first_cum_cents,
       CAST(max(cum_cents) AS BIGINT) AS last_cum_cents
FROM classed
GROUP BY abc
ORDER BY abc
"""


@register("orders_abc_classes", oracle=_ABC_ORACLE)
def orders_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC revenue classification of parts: cumulative-share class
    boundaries as pure integer comparisons on exact cents."""
    rev = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.sum(F.floor(F.col("l_extendedprice")
                           * (1 - F.col("l_discount")) * 100 + 0.5))
             .cast("long").alias("cents"))
    )
    # The part universe scales with the data, so the global cumulative
    # this used before round 5 was a single-task sort of the whole
    # rollup; distributed_prefix_sum gives the same inclusive cumsum
    # over the (revenue desc, partkey) total order, and the grand
    # total is one bounded aggregate off the checkpointed frame.
    from ..operators.ranking import distributed_prefix_sum

    cum = distributed_prefix_sum(
        rev.withColumn("__neg", -F.col("cents")),
        ["__neg", "l_partkey"], "cents", "cum_cents").drop("__neg")
    tot = cum.agg(F.sum("cents").cast("long").alias("total_cents"))
    ranked = (
        cum.crossJoin(F.broadcast(tot))
        .select("l_partkey", "cents", "cum_cents", "total_cents")
    )
    abc = (
        F.when(F.col("cum_cents") * 100 <= 80 * F.col("total_cents"), "A")
        .when(F.col("cum_cents") * 100 <= 95 * F.col("total_cents"), "B")
        .otherwise("C")
    )
    return (
        ranked.withColumn("abc", abc)
        .groupBy("abc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("cents").cast("long").alias("revenue_cents"),
            F.min("cum_cents").cast("long").alias("first_cum_cents"),
            F.max("cum_cents").cast("long").alias("last_cum_cents"),
        )
        .orderBy("abc")
    )


_ALLOC_ORACLE = """
WITH lines AS (
  SELECT o.o_orderpriority AS pri, l.l_orderkey AS ok, l.l_linenumber AS ln,
         CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS c,
         CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS t
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
w1 AS (
  SELECT pri, ok, ln, c, t, t * c AS prod,
         CAST(sum(c) OVER (PARTITION BY ok) AS BIGINT) AS s
  FROM lines
),
w2 AS (
  SELECT pri, ok, t, prod // s AS fa, prod % s AS rem,
         row_number() OVER (PARTITION BY ok
                            ORDER BY prod % s DESC, ln) AS rk,
         CAST(t - sum(prod // s) OVER (PARTITION BY ok) AS BIGINT)
           AS leftover
  FROM w1
),
alloc AS (
  SELECT pri, ok, t,
         CAST(fa + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
           AS a
  FROM w2
),
per AS (
  SELECT pri, CAST(count(DISTINCT ok) AS BIGINT) AS n_orders,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(a) AS BIGINT) AS alloc_cents
  FROM alloc GROUP BY pri
),
ot AS (
  SELECT pri, CAST(sum(t) AS BIGINT) AS order_cents
  FROM (SELECT DISTINCT pri, ok, t FROM lines) GROUP BY pri
)
SELECT per.pri AS o_orderpriority, per.n_orders, per.n_lines,
       per.alloc_cents, ot.order_cents
FROM per JOIN ot ON ot.pri = per.pri
ORDER BY per.pri
"""


@register("orders_discount_allocation", oracle=_ALLOC_ORACLE)
def orders_discount_allocation(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Largest-remainder allocation of each order's header cents across
    its lines; per-priority rollup carries the exactness invariant."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
        .alias("c"),
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("pri"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("t"),
    )
    lines = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "pri", F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"), "c", "t",
    )
    wo = W.partitionBy("ok")
    w1 = lines.select(
        "pri", "ok", "ln", "c", "t",
        (F.col("t") * F.col("c")).alias("prod"),
        F.sum("c").over(wo).cast("long").alias("s"),
    )
    w2 = w1.select(
        "pri", "ok", "ln", "t",
        F.expr("prod div s").alias("fa"),
        (F.col("prod") % F.col("s")).alias("rem"),
    )
    w3 = w2.select(
        "pri", "ok", "t", "fa",
        F.row_number().over(wo.orderBy(F.col("rem").desc(), "ln"))
        .alias("rk"),
        (F.col("t") - F.sum("fa").over(wo)).cast("long").alias("leftover"),
    )
    alloc = w3.select(
        "pri", "ok", "t",
        (F.col("fa") + F.when(F.col("rk") <= F.col("leftover"), 1)
         .otherwise(0)).cast("long").alias("a"),
    )
    per = alloc.groupBy("pri").agg(
        F.countDistinct("ok").cast("long").alias("n_orders"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("a").cast("long").alias("alloc_cents"),
    )
    ot = (
        lines.select("pri", "ok", "t").distinct()
        .groupBy("pri").agg(F.sum("t").cast("long").alias("order_cents"))
    )
    return (
        per.join(ot, "pri")
        .select(F.col("pri").alias("o_orderpriority"), "n_orders",
                "n_lines", "alloc_cents", "order_cents")
        .orderBy("o_orderpriority")
    )


_CONCURRENCY_ORACLE = """
WITH iv AS (
  SELECT l.l_suppkey AS sk,
         date_diff('day', DATE '1970-01-01',
                   CAST(least(o.o_orderdate, l.l_shipdate) AS DATE)) AS lo,
         date_diff('day', DATE '1970-01-01',
                   CAST(greatest(o.o_orderdate, l.l_shipdate) AS DATE)) AS hi
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
ev AS (
  SELECT sk, lo AS d, CAST(count(*) AS BIGINT) AS delta
  FROM iv GROUP BY sk, lo
  UNION ALL
  SELECT sk, hi + 1 AS d, -CAST(count(*) AS BIGINT) AS delta
  FROM iv GROUP BY sk, hi
),
ev2 AS (SELECT sk, d, CAST(sum(delta) AS BIGINT) AS delta
        FROM ev GROUP BY sk, d),
sweep AS (
  SELECT sk, d,
         CAST(sum(delta) OVER (PARTITION BY sk ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS conc,
         lead(d) OVER (PARTITION BY sk ORDER BY d) AS nxt
  FROM ev2
),
stats AS (
  SELECT sk, CAST(max(conc) AS BIGINT) AS peak_inflight,
         CAST(sum(CASE WHEN conc > 0 AND nxt IS NOT NULL
                       THEN nxt - d ELSE 0 END) AS BIGINT) AS covered_days
  FROM sweep GROUP BY sk
),
base AS (
  SELECT sk, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(max(hi) - min(lo) + 1 AS BIGINT) AS span_days
  FROM iv GROUP BY sk
)
SELECT b.sk AS s_suppkey, b.n_lines, s.peak_inflight, s.covered_days,
       b.span_days
FROM base b JOIN stats s ON s.sk = b.sk
ORDER BY b.sk
"""


_EPOCH = "1970-01-01"


@register("supplier_shipment_concurrency", oracle=_CONCURRENCY_ORACLE)
def supplier_shipment_concurrency(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Peak in-flight line count and covered days per supplier from a
    per-supplier sweep-line over exact day-number intervals."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate")
    epoch = F.to_date(F.lit(_EPOCH))
    iv = checkpoint(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("sk"),
            F.datediff(
                F.to_date(F.least("o_orderdate", "l_shipdate")), epoch)
            .alias("lo"),
            F.datediff(
                F.to_date(F.greatest("o_orderdate", "l_shipdate")), epoch)
            .alias("hi"),
        )  # feeds the sweep AND the base agg
    )
    opens = iv.groupBy("sk", F.col("lo").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("delta"))
    closes = iv.groupBy("sk", (F.col("hi") + 1).alias("d")).agg(
        (-F.count(F.lit(1))).cast("long").alias("delta"))
    ev2 = (
        opens.unionByName(closes)
        .groupBy("sk", "d").agg(F.sum("delta").cast("long").alias("delta"))
    )
    ws = W.partitionBy("sk").orderBy("d")
    sweep = ev2.select(
        "sk", "d",
        F.sum("delta").over(ws.rowsBetween(W.unboundedPreceding, 0))
        .cast("long").alias("conc"),
        F.lead("d").over(ws).alias("nxt"),
    )
    stats = sweep.groupBy("sk").agg(
        F.max("conc").cast("long").alias("peak_inflight"),
        F.sum(F.when((F.col("conc") > 0) & F.col("nxt").isNotNull(),
                     F.col("nxt") - F.col("d")).otherwise(0))
        .cast("long").alias("covered_days"),
    )
    base = iv.groupBy("sk").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        (F.max("hi") - F.min("lo") + 1).cast("long").alias("span_days"),
    )
    return (
        base.join(stats, "sk")
        .select(F.col("sk").alias("s_suppkey"), "n_lines",
                "peak_inflight", "covered_days", "span_days")
        .orderBy("s_suppkey")
    )


_DUP_PAY_ORACLE = """
WITH pay AS (
  SELECT o_custkey AS ck,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS day
  FROM orders
),
grp AS (
  SELECT ck, cents, day, CAST(count(*) AS BIGINT) AS n
  FROM pay GROUP BY ck, cents, day
  HAVING count(*) > 1
)
SELECT ck AS o_custkey,
       CAST(count(*) AS BIGINT) AS n_dup_groups,
       CAST(sum(n) AS BIGINT) AS n_orders,
       CAST(sum((n - 1) * cents) AS BIGINT) AS cents_at_stake
FROM grp
GROUP BY ck
ORDER BY cents_at_stake DESC, o_custkey
"""


@register("orders_duplicate_payment_screen", oracle=_DUP_PAY_ORACLE)
def orders_duplicate_payment_screen(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Suspected duplicate charges: identical (customer, cents, day)
    tuples seen 2+ times, rolled up per customer with cents at stake."""
    pay = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
        .alias("cents"),
        _epoch_day("o_orderdate").alias("day"),
    )
    grp = (
        pay.groupBy("ck", "cents", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .where(F.col("n") > 1)
    )
    return (
        grp.groupBy("ck")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_groups"),
            F.sum("n").cast("long").alias("n_orders"),
            F.sum((F.col("n") - 1) * F.col("cents")).cast("long")
            .alias("cents_at_stake"),
        )
        .select(F.col("ck").alias("o_custkey"), "n_dup_groups",
                "n_orders", "cents_at_stake")
        .orderBy(F.desc("cents_at_stake"), "o_custkey")
    )


_HHI_ORACLE = """
WITH rev AS (
  SELECT s.s_nationkey AS nk, l.l_suppkey AS sk,
         CAST(sum(floor(l.l_extendedprice * (1 - l.l_discount) * 100
                        + 0.5)) AS BIGINT) AS cents
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY s.s_nationkey, l.l_suppkey
),
tot AS (SELECT nk, CAST(sum(cents) AS BIGINT) AS t FROM rev GROUP BY nk),
shares AS (
  SELECT r.nk,
         floor(CAST(r.cents AS DOUBLE) / t.t * 1e6 + 0.5) / 1e6 AS sh
  FROM rev r JOIN tot t ON t.nk = r.nk
)
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       max(sh) AS top_share_s,
       floor(sum(CAST(floor(sh * sh * 1e6 + 0.5) AS BIGINT)) / 1e6
             * 1e6 + 0.5) / 1e6 AS hhi_s
FROM shares s JOIN nation n ON n.n_nationkey = s.nk
GROUP BY n.n_name
ORDER BY n.n_name
"""


@register("supplier_herfindahl_index", oracle=_HHI_ORACLE)
def supplier_herfindahl_index(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman revenue concentration per nation from
    exact cents shares, int64-quantized square terms."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                * 100 + 0.5).cast("long").alias("c"),
    )
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    rev = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nk"), "l_suppkey")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    tot = rev.groupBy("nk").agg(F.sum("cents").cast("long").alias("t"))
    shares = rev.join(F.broadcast(tot), "nk").select(
        "nk", _snap6(F.col("cents").cast("double") / F.col("t"))
        .alias("sh"))
    term_q = F.floor(F.col("sh") * F.col("sh") * 1e6 + 0.5).cast("long")
    return (
        shares.join(F.broadcast(nation),
                    shares.nk == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.max("sh").alias("top_share_s"),
            _snap6(F.sum(term_q) / 1e6).alias("hhi_s"),
        )
        .orderBy("n_name")
    )


_PRICE_INDEX_ORACLE = f"""
WITH li AS (
  SELECT l_partkey AS pk,
         CASE WHEN date_diff('day', DATE '1970-01-01',
                             CAST(l_shipdate AS DATE))
                   < {_PRICE_SPLIT_DAY} THEN 1 ELSE 2 END AS period,
         CAST(floor(l_extendedprice / l_quantity * 100 + 0.5) AS BIGINT)
           AS unit_cents,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty
  FROM lineitem WHERE l_quantity > 0
),
pp AS (
  SELECT pk, period,
         CAST(sum(unit_cents * qty) AS BIGINT) AS spend,
         CAST(sum(qty) AS BIGINT) AS q
  FROM li GROUP BY pk, period
),
matched AS (
  SELECT a.pk,
         a.spend AS spend1, a.q AS q1,
         b.spend AS spend2, b.q AS q2
  FROM pp a JOIN pp b ON b.pk = a.pk AND a.period = 1 AND b.period = 2
),
px AS (
  SELECT pk,
         CAST(floor(CAST(spend1 AS DOUBLE) / q1 + 0.5) AS BIGINT) AS p1,
         CAST(floor(CAST(spend2 AS DOUBLE) / q2 + 0.5) AS BIGINT) AS p2,
         q1, q2
  FROM matched
),
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n_parts,
         CAST(sum(p2 * q1) AS BIGINT) AS s21,
         CAST(sum(p1 * q1) AS BIGINT) AS s11,
         CAST(sum(p2 * q2) AS BIGINT) AS s22,
         CAST(sum(p1 * q2) AS BIGINT) AS s12
  FROM px
)
SELECT n_parts,
       floor(CAST(s21 AS DOUBLE) / nullif(s11, 0) * 1e6 + 0.5) / 1e6
         AS laspeyres_s,
       floor(CAST(s22 AS DOUBLE) / nullif(s12, 0) * 1e6 + 0.5) / 1e6
         AS paasche_s,
       floor(sqrt((CAST(s21 AS DOUBLE) / nullif(s11, 0))
                  * (CAST(s22 AS DOUBLE) / nullif(s12, 0)))
             * 1e6 + 0.5) / 1e6 AS fisher_s
FROM sums
"""


@register("part_price_index", oracle=_PRICE_INDEX_ORACLE)
def part_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indices between the two
    half-month periods over the matched part basket, exact cents."""
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_quantity") > 0).select(
        F.col("l_partkey").alias("pk"),
        F.when(_epoch_day("l_shipdate") < _PRICE_SPLIT_DAY, 1)
        .otherwise(2).alias("period"),
        F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 100
                + 0.5).cast("long").alias("unit_cents"),
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("qty"),
    )
    pp = li.groupBy("pk", "period").agg(
        F.sum(F.col("unit_cents") * F.col("qty")).cast("long")
        .alias("spend"),
        F.sum("qty").cast("long").alias("q"),
    )
    a = pp.where(F.col("period") == 1).select(
        "pk", F.col("spend").alias("spend1"), F.col("q").alias("q1"))
    b = pp.where(F.col("period") == 2).select(
        "pk", F.col("spend").alias("spend2"), F.col("q").alias("q2"))
    px = a.join(b, "pk").select(
        "pk",
        F.floor(F.col("spend1").cast("double") / F.col("q1") + 0.5)
        .cast("long").alias("p1"),
        F.floor(F.col("spend2").cast("double") / F.col("q2") + 0.5)
        .cast("long").alias("p2"),
        "q1", "q2",
    )
    sums = px.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(F.col("p2") * F.col("q1")).cast("long").alias("s21"),
        F.sum(F.col("p1") * F.col("q1")).cast("long").alias("s11"),
        F.sum(F.col("p2") * F.col("q2")).cast("long").alias("s22"),
        F.sum(F.col("p1") * F.col("q2")).cast("long").alias("s12"),
    )
    las = F.col("s21").cast("double") / F.nullif(F.col("s11"), F.lit(0))
    paa = F.col("s22").cast("double") / F.nullif(F.col("s12"), F.lit(0))
    return sums.select(
        "n_parts",
        _snap6(las).alias("laspeyres_s"),
        _snap6(paa).alias("paasche_s"),
        _snap6(F.sqrt(las * paa)).alias("fisher_s"),
    )


_DID_ORACLE = f"""
WITH li AS (
  SELECT CASE WHEN p.p_type = 'PROMO' THEN 1 ELSE 0 END AS treated,
         CASE WHEN date_diff('day', DATE '1970-01-01',
                             CAST(l.l_shipdate AS DATE))
                   < {_DID_SPLIT_DAY} THEN 1 ELSE 2 END AS period,
         CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
              AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
cells AS (
  SELECT treated, period,
         CAST(count(*) AS BIGINT) AS n_lines,
         floor(CAST(sum(cents) AS DOUBLE) / count(*) + 0.5) / 100
           AS mean_rev_s
  FROM li GROUP BY treated, period
),
did AS (
  SELECT
    (max(CASE WHEN treated = 1 AND period = 2 THEN mean_rev_s END)
     - max(CASE WHEN treated = 1 AND period = 1 THEN mean_rev_s END))
    - (max(CASE WHEN treated = 0 AND period = 2 THEN mean_rev_s END)
       - max(CASE WHEN treated = 0 AND period = 1 THEN mean_rev_s END))
      AS est,
    CAST(sum(n_lines) AS BIGINT) AS n_all
  FROM cells
)
SELECT CAST(treated AS BIGINT) AS treated,
       CAST(period AS BIGINT) AS period,
       n_lines, mean_rev_s,
       CAST(NULL AS DOUBLE) AS did_s
FROM cells
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), d.n_all,
       CAST(NULL AS DOUBLE),
       floor(d.est * 1e6 + 0.5) / 1e6
FROM did d
ORDER BY treated, period
"""


@register("orders_promo_lift_did", oracle=_DID_ORACLE)
def orders_promo_lift_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences of per-line revenue, PROMO parts vs
    the rest across the two half-month periods; 2x2 cells + estimate."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.when(_epoch_day("l_shipdate") < _DID_SPLIT_DAY, 1).otherwise(2)
        .alias("period"),
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                * 100 + 0.5).cast("long").alias("cents"),
    )
    part = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.when(F.col("p_type") == "PROMO", 1).otherwise(0)
        .alias("treated"),
    )
    cells = checkpoint(
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("treated", "period")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            (F.floor(F.sum("cents").cast("double") / F.count(F.lit(1))
                     + 0.5) / 100).alias("mean_rev_s"),
        )  # 4 rows, feeds cells + estimate
    )
    def cell(t, p):  # noqa: E306
        return F.max(F.when((F.col("treated") == t)
                            & (F.col("period") == p),
                            F.col("mean_rev_s")))
    did = cells.agg(
        ((cell(1, 2) - cell(1, 1)) - (cell(0, 2) - cell(0, 1)))
        .alias("est"),
        F.sum("n_lines").cast("long").alias("n_all"),
    )
    per = cells.select(
        F.col("treated").cast("long").alias("treated"),
        F.col("period").cast("long").alias("period"),
        "n_lines", "mean_rev_s",
        F.lit(None).cast("double").alias("did_s"),
    )
    total = did.select(
        F.lit(-1).cast("long").alias("treated"),
        F.lit(-1).cast("long").alias("period"),
        F.col("n_all").alias("n_lines"),
        F.lit(None).cast("double").alias("mean_rev_s"),
        _snap6(F.col("est")).alias("did_s"),
    )
    return per.unionByName(total).orderBy("treated", "period")
