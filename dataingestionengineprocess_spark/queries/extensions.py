"""Engine-extension surface: SQL UDFs, XML parsing, the custom Python
data source, and mergeable HLL sketches.

These demonstrate the extension points a Spark-4-native engine exposes
beyond the built-in operator set -- the reference's engine box is an
opaque "Python program" (Untitled Diagram.drawio:153-154), so its
extension mechanism is unspecified; ours is the public Spark surface:

- SQL UDFs (``CREATE FUNCTION ... RETURN expr``): planner-inlined --
  unlike Python UDFs the body participates in Catalyst optimization and
  whole-stage codegen, so there is NO serialization boundary. The
  preferred way to package reusable business expressions at scale.
- ``from_xml`` / ``xpath_*``: typed extraction from XML feeds (partner
  CSV's sibling format); parsing is JVM-side, no Python round-trip.
- Python DataSource API: external feeds as planned, partitioned scans
  (see sources/python_datasource.py for the scale rationale).
- HLL sketches: the 100 TB answer to count-distinct -- fixed-size
  mergeable state, so per-partition partials combine associatively
  across any cluster topology (and across DAYS: sketches persisted per
  partition/day can be re-merged without touching raw data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..sources.python_datasource import register as register_feed_source
from . import register
from ..session import local_frame

# ---------------------------------------------------------------------------
# SQL UDF: net price with declared parameter and return types. The oracle
# inlines the same expression -- by construction a SQL UDF is equivalent to
# its inlined body, which is exactly what makes it the fast extension path.
# ---------------------------------------------------------------------------

_SQL_UDF_ORACLE = """
SELECT l_returnflag,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)
                AS BIGINT)) AS BIGINT) / 100.0 AS net_revenue,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
WHERE l_quantity < 25
GROUP BY l_returnflag
"""


@register("sql_udf_net_price", oracle=_SQL_UDF_ORACLE)
def sql_udf_net_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_price(p DOUBLE, d DOUBLE, t DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d) * (1 + t)"
    )
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("__sqludf_li")
    # Exact-cents sum (see FIXTURES.md oracle notes): per-row round is
    # bitwise identical across engines; the long sum is order-free.
    return spark.sql(
        """
        SELECT l_returnflag,
               sum(CAST(round(net_price(l_extendedprice, l_discount, l_tax) * 100)
                   AS BIGINT)) / 100e0 AS net_revenue,
               count(*) AS n
        FROM __sqludf_li
        WHERE l_quantity < 25
        GROUP BY l_returnflag
        """
    )


# ---------------------------------------------------------------------------
# XML round-trip: serialize order rows to XML, parse back with a typed
# from_xml schema plus an xpath_* probe. The oracle states the expected
# fixpoint directly from the source columns, so this checks end-to-end
# value fidelity of serialize -> parse -> extract.
# ---------------------------------------------------------------------------

_XML_ORACLE = """
SELECT o_orderkey AS order_id,
       o_orderstatus AS status,
       o_totalprice AS total,
       o_orderkey * 2 AS xpath_double_key
FROM orders
WHERE o_orderkey <= 500
"""


@register("scalar_xml_roundtrip", oracle=_XML_ORACLE)
def scalar_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    xml = F.format_string(
        "<order><key>%s</key><status>%s</status><total>%s</total></order>",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("string"),
    )
    parsed = F.from_xml(xml, "key BIGINT, status STRING, total DOUBLE")
    return o.select(
        parsed.getField("key").alias("order_id"),
        parsed.getField("status").alias("status"),
        parsed.getField("total").alias("total"),
        (F.xpath_long(xml, F.lit("/order/key")) * 2).alias("xpath_double_key"),
    )


# ---------------------------------------------------------------------------
# Custom Python data source: planned, partitioned synthetic feed. The
# oracle regenerates the same feed from DuckDB's range() -- both sides are
# pure integer arithmetic on the row id, so values match exactly.
# ---------------------------------------------------------------------------

_FEED_ROWS = 20_000

_FEED_ORACLE = f"""
SELECT 'P' || CAST(id % 7 AS VARCHAR) AS partner,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round((((id * 2654435761) % 1000003) / 100.0) * 100)
            AS BIGINT)) AS BIGINT) / 100.0 AS total_amount
FROM range(0, {_FEED_ROWS}) t(id)
GROUP BY partner
"""


@register("source_python_datasource", oracle=_FEED_ORACLE)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_feed_source(spark)
    feed = (
        spark.read.format("partner_feed")
        .option("rows", _FEED_ROWS)
        .option("partitions", 8)
        .load()
    )
    return feed.groupBy("partner").agg(
        F.count("*").alias("n"),
        (
            F.sum(F.round(F.col("amount") * 100).cast("long")) / 100.0
        ).alias("total_amount"),
    )


# ---------------------------------------------------------------------------
# Mergeable HLL sketches (Apache DataSketches via Spark 3.5+ built-ins):
# per-group sketches unioned into a global estimate WITHOUT rescanning --
# the associative-merge property that replaces exact count-distinct at
# 100 TB. Rows-only check (DuckDB's HLL is a different sketch family);
# tests/test_extensions.py bounds the estimates against exact counts.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# grouping() flags over a rollup: lets one result table carry detail rows,
# subtotals, and the grand total while remaining machine-distinguishable
# (a NULL group key from data vs a NULL meaning "aggregated away"). The
# combined id is built from per-column grouping() bits portably.
# ---------------------------------------------------------------------------

_GROUPING_ID_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
         AS gid,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100e0
         AS sum_qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


@register("agg_rollup_grouping_id", oracle=_GROUPING_ID_ORACLE)
def agg_rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    gid = (
        F.grouping("l_returnflag").cast("long") * 2
        + F.grouping("l_linestatus").cast("long")
    )
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            gid.alias("gid"),
            (
                F.sum(F.round(F.col("l_quantity") * 100).cast("long")) / 100.0
            ).alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE): key-doubling chain walk over the
# customer table -- the hierarchy/transitive-closure idiom (BOM explosion,
# org charts, referral chains) expressed one way and run on BOTH engines.
# Each iteration is a planned join, so the recursion distributes: no
# driver-side loop, executors do every step.
# ---------------------------------------------------------------------------

_RCTE_BODY = """
WITH RECURSIVE chain AS (
  SELECT c_custkey AS root, c_custkey AS node, 0 AS depth
  FROM {src} WHERE c_custkey % 2 = 1
  UNION ALL
  SELECT ch.root, c.c_custkey AS node, ch.depth + 1 AS depth
  FROM chain ch JOIN {src} c ON c.c_custkey = ch.node * 2
)
SELECT root,
       CAST(max(depth) AS BIGINT) AS chain_len,
       CAST(max(node) AS BIGINT)  AS deepest_node
FROM chain GROUP BY root
"""


@register("sql_recursive_cte", oracle=_RCTE_BODY.format(src="customer"))
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "customer").createOrReplaceTempView("__rcte_cust")
    return spark.sql(_RCTE_BODY.format(src="__rcte_cust"))


# ---------------------------------------------------------------------------
# Bitmap-exact distinct (Spark 3.5+ bitmap_* family): EXACT count-distinct
# with mergeable per-bucket bitmap partials -- the middle ground between
# shuffle-heavy countDistinct and approximate HLL. Level 1 groups by
# (flag, bucket) building one fixed-size bitmap per 32k-id bucket; level 2
# sums bitmap cardinalities. Both shuffles carry bitmaps/counts, never raw
# ids, and partials combine associatively across partitions.
# ---------------------------------------------------------------------------

_BITMAP_ORACLE = """
SELECT l_returnflag, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS distinct_orders
FROM lineitem GROUP BY l_returnflag
"""


@register("agg_bitmap_exact_distinct", oracle=_BITMAP_ORACLE)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    per_bucket = li.groupBy(
        "l_returnflag",
        F.bitmap_bucket_number("l_orderkey").alias("bucket"),
    ).agg(
        F.bitmap_count(
            F.bitmap_construct_agg(F.bitmap_bit_position("l_orderkey"))
        ).alias("cnt")
    )
    return per_bucket.groupBy("l_returnflag").agg(
        F.sum("cnt").alias("distinct_orders")
    )


# ---------------------------------------------------------------------------
# Datasketches HLL with explicit sketch MERGE (hll_union_agg) under a
# BOUNDED-ERROR oracle (same pattern as agg_approx_distinct): the
# estimates are engine-specific register state, so the query ships the
# sketch CONTRACT -- per-flag estimates AND the union-merged global
# estimate each asserted within 5% of the exact distinct count (the
# default lgConfigK=12 sketch has rsd ~1.6%; 5% is 3 sigma). The
# oracle recomputes the exact counts and asserts the booleans TRUE.
# The merge row is the point: partial sketches built per group union
# into a global estimate without rescanning -- the 100 TB rollup path.
# ---------------------------------------------------------------------------

_HLL_ORACLE = """
SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_distinct,
       TRUE AS within_bound
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT 'ALL' AS l_returnflag, count(DISTINCT l_orderkey) AS exact_distinct,
       TRUE AS within_bound
FROM lineitem
ORDER BY l_returnflag
"""


@register("agg_hll_mergeable", oracle=_HLL_ORACLE)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_orderkey").alias("sk"),
        F.countDistinct("l_orderkey").alias("exact_distinct"),
    )
    global_exact = li.agg(
        F.countDistinct("l_orderkey").alias("exact_distinct")
    )
    merged = per_flag.agg(
        F.lit("ALL").alias("l_returnflag"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("estimate"),
    ).crossJoin(F.broadcast(global_exact))
    bound = (
        F.abs(F.col("estimate") - F.col("exact_distinct"))
        <= F.lit(0.05) * F.col("exact_distinct")
    ).alias("within_bound")
    return (
        per_flag.select(
            "l_returnflag",
            F.hll_sketch_estimate("sk").alias("estimate"),
            "exact_distinct",
        )
        .unionByName(merged.select("l_returnflag", "estimate",
                                   "exact_distinct"))
        .select("l_returnflag", "exact_distinct", bound)
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Collation-aware comparison (Spark 4 collations): case-insensitive
# equality/grouping as a COLUMN TYPE property instead of lower()
# wrapped around every predicate -- which keeps the comparison sargable
# and lets one declaration cover every downstream use. The oracle
# expresses the same semantics with lower(), the pre-collation idiom.
# ---------------------------------------------------------------------------

_COLLATION_ORACLE = """
SELECT lower(p_brand) AS brand_ci, CAST(count(*) AS BIGINT) AS n_parts,
       round(sum(round(p_retailprice * 100)::BIGINT) / 100e0, 2) AS total_price
FROM part
GROUP BY brand_ci
"""


@register("scalar_collation_group", oracle=_COLLATION_ORACLE)
def scalar_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    ci = F.col("p_brand").cast("string collate UTF8_LCASE")
    return (
        p.groupBy(ci.alias("brand_ci"))
        .agg(
            F.count("*").alias("n_parts"),
            F.round(
                F.sum(F.round(F.col("p_retailprice") * 100).cast("long"))
                / 100.0, 2,
            ).alias("total_price"),
        )
        # surface the group key in the oracle's canonical (lower) form,
        # back in a binary-collated string so hashing sees plain utf8
        .select(
            F.lower(F.col("brand_ci")).cast("string").alias("brand_ci"),
            "n_parts", "total_price",
        )
    )


# ---------------------------------------------------------------------------
# Versioned-table snapshot diff (CDC between versions): publish the
# orders fixture as snapshot v1, MERGE a deterministic correction
# batch into v2, then diff the two snapshots. Exercises the
# sinks/versioned layout (atomic publish + keep-latest merge + time
# travel) inside the oracle gate: DuckDB recomputes the same diff
# straight from the fixture, so any divergence in publish/merge/read
# semantics hash-mismatches.
# ---------------------------------------------------------------------------

_SNAPSHOT_DIFF_ORACLE = """
WITH v1 AS (
  SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
),
v2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0
              THEN floor(o_totalprice * 1.1 * 100 + 0.5) / 100
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate
  FROM orders
)
SELECT v1.o_orderkey AS o_orderkey,
       v1.o_totalprice AS old_price,
       v2.o_totalprice AS new_price,
       floor((v2.o_totalprice - v1.o_totalprice) * 100 + 0.5) / 100
           AS price_delta
FROM v1 JOIN v2 USING (o_orderkey)
WHERE v1.o_totalprice <> v2.o_totalprice
"""


@register("warehouse_snapshot_diff", oracle=_SNAPSHOT_DIFF_ORACLE)
def warehouse_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two snapshots of a versioned table.

    v1 = the orders fixture; v2 = v1 MERGEd with a correction batch
    (every 97th order re-priced +10%, a later order date so
    keep-latest picks it). The result reads BOTH snapshots via time
    travel and reports the changed keys -- on a lakehouse table this
    is the "what changed between versions" audit query, here proven
    end-to-end against an oracle that recomputes the corrections
    relationally.

    Scale: the diff is one equi-join between two snapshot scans on the
    table key; at 100 TB you'd partition both snapshots identically at
    publish time so the join is co-located.
    """
    from ..catalog import scratch_dir
    from ..sinks.versioned import VersionedTable

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    vt = VersionedTable(spark, scratch_dir("vdiff", sf_dir))
    v1 = vt.publish(base)
    updates = (
        base.filter(F.col("o_orderkey") % 97 == 0)
        # floor-based rounding (FIXTURES.md): x*1.1 lands exactly on
        # half-cent boundaries where Spark's repr-based round() and
        # DuckDB's binary round() disagree by a cent.
        .withColumn(
            "o_totalprice",
            F.floor(F.col("o_totalprice") * 1.1 * 100 + 0.5) / 100,
        )
        .withColumn("o_orderdate", F.date_add(F.col("o_orderdate"), 1))
    )
    vt.merge(updates, keys=["o_orderkey"], order_col="o_orderdate")

    return (
        vt.diff(keys=["o_orderkey"], v_from=v1)
        .filter(F.col("change_type") == "update")
        .select(
            "o_orderkey",
            F.col("old.o_totalprice").alias("old_price"),
            F.col("new.o_totalprice").alias("new_price"),
            (F.floor(
                (F.col("new.o_totalprice") - F.col("old.o_totalprice"))
                * 100 + 0.5
            ) / 100).alias("price_delta"),
        )
    )


_CMS_PROBES = [1, 2, 3, 5, 8, 13, 21]

_CMS_ORACLE = f"""
WITH probes AS (
  SELECT unnest({_CMS_PROBES}) AS l_suppkey
),
exact AS (
  SELECT p.l_suppkey, CAST(count(li.l_suppkey) AS BIGINT) AS exact_count
  FROM probes p LEFT JOIN lineitem li ON li.l_suppkey = p.l_suppkey
  GROUP BY p.l_suppkey
)
SELECT l_suppkey, exact_count,
       TRUE AS never_undercount, TRUE AS within_eps
FROM exact ORDER BY l_suppkey
"""


@register("agg_cms_supplier_freq", oracle=_CMS_ORACLE)
def agg_cms_supplier_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch point frequencies for a fixed supplier probe
    set over lineitem (operators/cms.py) -- the mergeable
    point-frequency sketch next to HLL (distinct) and Misra-Gries
    (heavy hitters). BOUNDED-ERROR oracle (the A3 pattern): the raw
    estimates are sketch-internal, so the query emits the CMS
    guarantees as booleans -- never-undercount (est >= exact, holds
    with certainty) and overshoot <= eps*N (holds with the configured
    99% confidence; the seeded sketch is deterministic for a given
    fixture, so the pass/fail is a fixed fact per sf, verified at
    sf 0.001/0.01/0.1). The oracle recomputes exact probe counts and
    asserts both booleans TRUE."""
    from ..operators.cms import cms_point_estimates

    from ..operators.cms import cms_estimate

    eps = 0.0001
    li = load(spark, sf_dir, "lineitem")
    # ONE global aggregate carries everything the certificate needs:
    # the CMS sketch, the total row count (for eps*N), and one exact
    # conditional count per probe -- a single lineitem scan with no
    # groupBy shuffle (global agg partials merge map-side), instead of
    # separate sketch-build + probe-count + count() passes.
    row = li.agg(
        F.expr(
            f"count_min_sketch(l_suppkey, {eps}d, 0.99d, 42)"
        ).alias("sk"),
        F.count("*").alias("n_total"),
        *[
            F.sum(F.when(F.col("l_suppkey") == p, 1).otherwise(0))
            .alias(f"c{p}")
            for p in _CMS_PROBES
        ],
    ).collect()[0]
    ests = cms_estimate(spark, bytes(row["sk"]), _CMS_PROBES)
    n_total = int(row["n_total"])
    return local_frame(
        spark,
        [
            (
                p,
                int(row[f"c{p}"]),
                e >= row[f"c{p}"],
                e <= row[f"c{p}"] + eps * n_total,
            )
            for p, e in zip(_CMS_PROBES, ests)
        ],
        "l_suppkey long, exact_count long, "
        "never_undercount boolean, within_eps boolean",
    ).orderBy("l_suppkey")


# ---------------------------------------------------------------------------
# Versioned-table CDC diff, driver-checkable end to end: two derived
# snapshots of `documents` are PUBLISHED through the real
# VersionedTable sink (atomic _SUCCESS-committed version dirs), then
# `diff()` computes change-data-capture between them and the result is
# flattened to scalar columns. The oracle recomputes the same diff
# relationally from the same derivations -- so a hash pass proves the
# whole publish -> snapshot-read -> full-outer CDC path, not just the
# arithmetic. Scale: diff is ONE full-outer equi-join of two snapshot
# scans; at 100 TB both snapshots are published partitioned by the key
# so the join is co-located (see sinks/versioned.py docstring).
# ---------------------------------------------------------------------------

_CDC_DIFF_ORACLE = """
WITH a AS (
  SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id % 7 <> 3
),
b AS (
  SELECT doc_id, lang, source,
         CASE WHEN doc_id % 11 = 0 THEN n_chars + 1000 ELSE n_chars END
             AS n_chars
  FROM documents WHERE doc_id % 5 <> 0
)
SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       CASE WHEN a.doc_id IS NULL THEN 'insert'
            WHEN b.doc_id IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       a.n_chars AS old_n_chars,
       b.n_chars AS new_n_chars
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
WHERE a.doc_id IS NULL OR b.doc_id IS NULL
   OR a.lang IS DISTINCT FROM b.lang
   OR a.source IS DISTINCT FROM b.source
   OR a.n_chars IS DISTINCT FROM b.n_chars
"""


@register("warehouse_cdc_diff", oracle=_CDC_DIFF_ORACLE)
def warehouse_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import scratch_dir
    from ..sinks.versioned import VersionedTable

    docs = load(spark, sf_dir, "documents")
    snap_a = docs.filter(F.col("doc_id") % 7 != 3).select(
        "doc_id", "lang", "source", "n_chars"
    )
    snap_b = docs.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id", "lang", "source",
        F.when(F.col("doc_id") % 11 == 0, F.col("n_chars") + 1000)
        .otherwise(F.col("n_chars")).alias("n_chars"),
    )
    vt = VersionedTable(spark, scratch_dir("cdc_diff", sf_dir))
    va = vt.publish(snap_a)
    vb = vt.publish(snap_b)
    return vt.diff(["doc_id"], va, vb).select(
        "doc_id", "change_type",
        F.col("old.n_chars").alias("old_n_chars"),
        F.col("new.n_chars").alias("new_n_chars"),
    )


# ---------------------------------------------------------------------------
# Batch MERGE (keep-latest upsert) through the versioned warehouse
# sink, driver-checkable: a base orders snapshot is published, a
# derived update batch (price bumps for one priority class + brand-new
# synthetic orders) merges into it, and the final state is read back.
# The oracle recomputes keep-latest relationally from the same
# derivations, so a hash pass proves publish -> MERGE -> snapshot-read
# end to end (S7's semantics, previously evidenced only by pytest).
# Scale: the merge is one union + one keyed window over (existing ∪
# updates); at 100 TB both sides are key-partitioned so the window
# sorts co-located partitions.
# ---------------------------------------------------------------------------

_MERGE_UPSERT_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
  FROM orders
),
updates AS (
  SELECT o_orderkey, 'U' AS o_orderstatus,
         floor(o_totalprice * 1.1 * 100 + 0.5) / 100 AS o_totalprice,
         o_orderdate + INTERVAL 1 DAY AS o_orderdate
  FROM orders WHERE o_orderkey % 10 = 1
  UNION ALL
  SELECT o_orderkey + 10000000, 'N' AS o_orderstatus,
         CAST(o_orderkey AS DOUBLE) / 100 AS o_totalprice,
         o_orderdate
  FROM orders WHERE o_orderkey % 100 = 2
),
merged AS (
  SELECT *, row_number() OVER (
      PARTITION BY o_orderkey
      ORDER BY o_orderdate DESC, is_update DESC) AS rn
  FROM (
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate,
           0 AS is_update FROM base
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate,
           1 AS is_update FROM updates
  )
)
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
FROM merged WHERE rn = 1
"""


@register("warehouse_merge_upsert", oracle=_MERGE_UPSERT_ORACLE)
def warehouse_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import scratch_dir
    from ..sinks.versioned import VersionedTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 1)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            # floor-based cent rounding, NOT F.round: o_totalprice*1.1
            # is an arbitrary quotient, and Spark's shortest-repr
            # HALF_UP vs DuckDB's binary rounding disagree near .xx5
            # boundaries (~1 row per 1500 at sf0.1) -- FIXTURES.md
            # round-trip rule
            (F.floor(F.col("o_totalprice") * 1.1 * 100 + 0.5) / 100)
            .alias("o_totalprice"),
            (F.col("o_orderdate") + F.expr("INTERVAL 1 DAY"))
            .alias("o_orderdate"),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 100 == 2).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                (F.col("o_orderkey").cast("double") / 100)
                .alias("o_totalprice"),
                "o_orderdate",
            )
        )
    )
    vt = VersionedTable(spark, scratch_dir("merge_upsert", sf_dir))
    vt.publish(orders)
    vt.merge(updates, keys=["o_orderkey"], order_col="o_orderdate")
    return vt.read()


# ---------------------------------------------------------------------------
# The reference's [R] CORE PIPELINE as a driver-checked query: a CSV
# drop is synthesized from `orders` (with deterministically injected
# rule violations, re-delivered duplicate rows, and a malformed file),
# ingested end-to-end through `ingest_batch` (CSV parse -> corrupt-row
# routing -> rule validation -> keep-latest dedup -> warehouse/OLTP
# dual sink with observe() telemetry), and the curated + quarantine
# tables are read back. The oracle recomputes the expected contents
# relationally from the same derivation, so a hash pass certifies the
# WHOLE landing-zone pipeline (previously evidenced only by pytest).
# Scale: everything here is the production stage chain itself -- one
# scan of the drop, map-side validation split, one keyed dedup
# shuffle, partition-targeted sink writes.
# ---------------------------------------------------------------------------

_INGEST_ROUNDTRIP_ORACLE = """
WITH curated AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, o_orderdate
  FROM orders WHERE o_orderkey % 97 <> 0
),
quar AS (
  SELECT o_orderkey, o_custkey, -(o_totalprice + 1.0) AS o_totalprice,
         o_orderstatus, o_orderdate
  FROM orders WHERE o_orderkey % 97 = 0
)
SELECT *, 'curated' AS status FROM curated
UNION ALL
SELECT *, 'quarantined' AS status FROM quar
"""


@register("pipeline_ingest_roundtrip", oracle=_INGEST_ROUNDTRIP_ORACLE)
def pipeline_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..catalog import scratch_dir
    from ..operators.quality import in_range, not_null
    from ..pipeline import FeedConfig, ingest_batch
    from ..sinks.warehouse import SinkConfig
    from pyspark.sql import types as T

    scratch = scratch_dir("ingest_roundtrip", sf_dir)
    landing = os.path.join(scratch, "landing")
    os.makedirs(landing, exist_ok=True)

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice",
        "o_orderstatus", "o_orderdate",
    )
    # rule violations: keys % 97 get a strictly-negative price
    poisoned = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 97 == 0,
               -(F.col("o_totalprice") + F.lit(1.0)))
        .otherwise(F.col("o_totalprice")),
    )
    # re-delivered duplicates: an OLDER copy of keys % 101 (not % 97)
    # with a different price -- keep-latest dedup must drop them
    dups = (
        orders.filter((F.col("o_orderkey") % 101 == 0)
                      & (F.col("o_orderkey") % 97 != 0))
        .withColumn("o_orderdate",
                    F.col("o_orderdate") - F.expr("INTERVAL 1 DAY"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 7.0)
    )
    # ISO-format the timestamp so the CSV round-trips through the
    # default TIMESTAMP_NTZ parser with zero timezone involvement
    drop = poisoned.unionByName(dups).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss.SSS")
        .alias("o_orderdate"),
    )
    drop.write.mode("overwrite").option("header", True).csv(landing)
    # a malformed sibling file: structurally broken rows must route to
    # the rejects table, not poison the curated output
    with open(os.path.join(landing, "bad.csv"), "w") as f:
        f.write("o_orderkey,o_custkey,o_totalprice,o_orderstatus,o_orderdate\n")
        f.write("not_a_number,x,,BAD,also_not_a_timestamp\n")
        f.write("999999999999999999999999999,1,2.0,F,nope\n")

    feed = FeedConfig(
        name="roundtrip_orders",
        schema=T.StructType([
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
        ]),
        key_cols=["o_orderkey"], order_col="o_orderdate",
        rules=[not_null("o_orderkey"),
               in_range("o_totalprice", 0.0, 1e9)],
    )
    sinks = SinkConfig(warehouse_dir=os.path.join(scratch, "wh"),
                       oltp_dir=os.path.join(scratch, "oltp"))
    ingest_batch(spark, feed, landing, sinks, run_id="roundtrip-run")

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
            "o_orderdate"]
    # table names derive from feed.name + ingest_batch's suffix
    # convention -- no duplicated literals to drift
    curated = (
        spark.read.parquet(os.path.join(sinks.warehouse_dir, feed.name))
        .select(*cols).withColumn("status", F.lit("curated"))
    )
    quarantined = (
        spark.read.parquet(
            os.path.join(sinks.warehouse_dir, f"{feed.name}_quarantine"))
        .select(*cols).withColumn("status", F.lit("quarantined"))
    )
    return curated.unionByName(quarantined)
