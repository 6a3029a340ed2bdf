"""Warehouse-maintenance surface (``warehouse_``, ``pipeline_``).

MERGE-style upserts, snapshot and CDC diffs over versioned tables
(sinks/versioned.py), compaction planning, incremental materialized
views, and the end-to-end ``ingest_batch`` round trip through the
warehouse and OLTP sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, SparkSession, Window as W

from ..catalog import load, scratch_dir
from ..functions.exact import snap6 as _snap6
from . import register


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


_MV_CUTOFF = "1999-01-01"


_MV_ORACLE = f"""
WITH base AS (
  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '{_MV_CUTOFF}'
),
final_rows AS (
  SELECT o_orderpriority,
         date_trunc('month', o_orderdate) AS month,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
           + CASE WHEN o_orderkey % 7 = 3 THEN 500 ELSE 0 END AS cents
  FROM base WHERE o_orderkey % 7 <> 0
  UNION ALL
  SELECT o_orderpriority,
         date_trunc('month', o_orderdate) AS month,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderdate >= TIMESTAMP '{_MV_CUTOFF}'
)
SELECT o_orderpriority, month,
       CAST(count(*) AS BIGINT)   AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM final_rows
GROUP BY o_orderpriority, month
ORDER BY o_orderpriority, month
"""


@register("warehouse_incremental_mv", oracle=_MV_ORACLE)
def warehouse_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-delta MV refresh: snapshot-read + O(delta) merge, proven
    equal to a direct recompute by the oracle. The CDC batch here is
    derived from the fixture (a production refresh consumes a real
    changelog carrying old values); the REFRESH plan only ever touches
    the persisted snapshot and the delta rows."""
    orders = load(spark, sf_dir, "orders")
    cutoff = F.lit(_MV_CUTOFF).cast("timestamp")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    month = F.date_trunc("month", F.col("o_orderdate")).alias("month")
    keys = ["o_orderpriority", "month"]

    base = orders.filter(F.col("o_orderdate") < cutoff)

    # --- one-time build: persist the standing MV snapshot -----------
    snap_path = scratch_dir("mv_snapshot", sf_dir)
    (
        base.groupBy("o_orderpriority", month)
        .agg(F.count(F.lit(1)).alias("sum_n"), F.sum(cents).alias("sum_c"))
        .write.mode("overwrite").parquet(snap_path)
    )

    # --- the CDC batch: signed (n, cents) partials -------------------
    def signed(df: DataFrame, n, c) -> DataFrame:
        return df.select(
            "o_orderpriority", month, n.alias("sum_n"), c.alias("sum_c")
        )

    inserts = signed(orders.filter(F.col("o_orderdate") >= cutoff),
                     F.lit(1), cents)
    deletes = signed(base.filter(F.col("o_orderkey") % 7 == 0),
                     F.lit(-1), -cents)
    upd_out = signed(base.filter(F.col("o_orderkey") % 7 == 3),
                     F.lit(-1), -cents)
    upd_in = signed(base.filter(F.col("o_orderkey") % 7 == 3),
                    F.lit(1), cents + F.lit(500))
    delta = (
        inserts.unionByName(deletes).unionByName(upd_out)
        .unionByName(upd_in)
        .groupBy(keys)
        .agg(F.sum("sum_n").alias("sum_n"), F.sum("sum_c").alias("sum_c"))
    )

    # --- the refresh: snapshot + delta, never the base fact ----------
    snapshot = spark.read.parquet(snap_path)
    return (
        snapshot.unionByName(delta)
        .groupBy(keys)
        .agg(F.sum("sum_n").alias("n_orders"),
             F.sum("sum_c").alias("sum_cents"))
        .filter(F.col("n_orders") > 0)
        .orderBy(*keys)
    )


_COMPACT_CAP = 16_000  # target chars per compaction bin (~10 bins on


_COMPACT_ORACLE = f"""
WITH parts AS (
  SELECT source, lang, CAST(sum(length(text)) AS BIGINT) AS sz,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source, lang
),
ordered AS (
  SELECT *, CAST(sum(sz) OVER (ORDER BY sz DESC, source, lang
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum
  FROM parts
),
binned AS (
  SELECT *, CAST((cum - sz) // {_COMPACT_CAP} AS BIGINT) AS bin
  FROM ordered
)
SELECT bin, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(sz) AS BIGINT) AS bin_chars,
       floor(CAST(sum(sz) AS DOUBLE) / {_COMPACT_CAP} * 1e6 + 0.5) / 1e6
         AS fill_s
FROM binned GROUP BY bin ORDER BY bin
"""


@register("warehouse_compaction_plan", oracle=_COMPACT_ORACLE)
def warehouse_compaction_plan(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Target-capacity compaction bins over the bounded partition
    summary by size-descending virtual concatenation."""
    parts = (
        load(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.sum(F.length("text")).cast("long").alias("sz"),
             F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    wcum = W.orderBy(F.col("sz").desc(), "source", "lang") \
        .rowsBetween(W.unboundedPreceding, 0)
    ordered = parts.select(
        "*", F.sum("sz").over(wcum).cast("long").alias("cum"))
    binned = ordered.select(
        "*",
        F.expr(f"(cum - sz) div {_COMPACT_CAP}").cast("long").alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sz").cast("long").alias("bin_chars"),
            _snap6(F.sum("sz").cast("double") / _COMPACT_CAP)
            .alias("fill_s"),
        )
        .orderBy("bin")
    )
