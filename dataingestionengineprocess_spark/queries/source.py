"""Source-format surface (``source_``): every reader the ingest layer offers.

CSV edge cases, ORC, XML, plain text lines, the JDBC round trip
against an embedded Derby database, and the custom Python data
source. Each query writes a fixture table out through the format and
reads it back, so the oracle is the original table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, SparkSession

from ..catalog import load, scratch_dir
from ..functions.text import md5_bucket
from ..sources.python_datasource import register as register_feed_source
from . import register


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


_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _derby_url(db_dir: str) -> str:
    return f"jdbc:derby:{db_dir}/db;create=true"


_JDBC_ROUNDTRIP_ORACLE = """
SELECT r.r_name,
       CAST(count(*) AS BIGINT) AS n_nations,
       min(n.n_nationkey)       AS min_key,
       max(n.n_nationkey)       AS max_key
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
ORDER BY r.r_name
"""


@register("source_jdbc_roundtrip", oracle=_JDBC_ROUNDTRIP_ORACLE)
def source_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 + J6 + S7 end to end through a REAL JDBC endpoint: publish
    the nation dimension into an embedded Derby database (the S7
    OLTP-sink write path: Spark JDBC writer, DDL + batched INSERTs),
    read it back PARTITIONED (the S5 contract: partitionColumn +
    bounds + numPartitions via `sources.jdbc.jdbc_read_options`, so
    Spark issues one range-predicate query per task instead of
    funneling the table through a single connection), broadcast-enrich
    against the region dimension (J6), and aggregate. The oracle
    recomputes the same rollup from the parquet source -- a hash pass
    proves the dimension survived the JDBC round-trip byte-identically.

    Scale notes: a dimension this small would read unpartitioned and
    broadcast; the partitioned read here exercises the large-table
    contract (bounds from the table's own min/max, the same two-row
    stats query a production reader issues). Embedded Derby is the
    sandbox stand-in for a networked RDBMS -- swap the URL and the
    plan is unchanged.
    """
    from ..sources.jdbc import JdbcConfig, read_jdbc

    # keep Derby's engine-wide log out of the repo cwd (JVM-global,
    # first-boot only -- harmless if the engine is already up)
    spark._jvm.java.lang.System.setProperty(
        "derby.system.home", "/tmp/derby_home"
    )

    db_dir = scratch_dir("derby_jdbc", sf_dir)
    url = _derby_url(db_dir)
    nation = load(spark, sf_dir, "nation")

    (
        nation.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation")
        .option("driver", _DERBY_DRIVER)
        .mode("overwrite")
        .save()
    )

    bounds = nation.agg(
        F.min("n_nationkey").alias("lo"), F.max("n_nationkey").alias("hi")
    ).collect()[0]
    cfg = JdbcConfig(
        url=url, table="nation",
        properties={"driver": _DERBY_DRIVER},
        partition_column="n_nationkey",
        lower_bound=str(bounds["lo"]), upper_bound=str(int(bounds["hi"]) + 1),
        num_partitions=4,
    )
    back = read_jdbc(spark, cfg)

    region = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        back.join(F.broadcast(region),
                  back["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_nations"),
            F.min("n_nationkey").alias("min_key"),
            F.max("n_nationkey").alias("max_key"),
        )
        .orderBy("r_name")
    )


_ORC_ORACLE = """
SELECT lang, source,
       CAST(count(*) AS BIGINT)      AS n_docs,
       CAST(sum(n_chars) AS BIGINT)  AS sum_chars,
       CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM documents
GROUP BY lang, source
ORDER BY lang, source
"""


@register("source_orc_roundtrip", oracle=_ORC_ORACLE)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 via ORC: publish the documents table as a lang-partitioned
    ORC dataset (the columnar-warehouse layout the diagram's Redshift
    sink implies, in its second supported format), read it back, and
    aggregate per (lang, source). Partitioning by lang exercises
    directory-partition reconstruction (lang returns as a partition
    column, not a data column) plus ORC's own column pruning on the
    readback scan.

    Scale: a real publish would go through sinks/warehouse (sorted
    writers, bloom columns); this query pins the FORMAT fidelity,
    which is what the oracle can prove."""
    docs = load(spark, sf_dir, "documents")
    path = scratch_dir("orc_roundtrip", sf_dir)
    (
        docs.write.mode("overwrite")
        .partitionBy("lang")
        .orc(path)
    )
    back = spark.read.orc(path)
    return (
        back.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.length("text")).alias("sum_text_len"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("lang", "source")
    )


_TEXT_LINES_ORACLE = """
SELECT lang,
       CAST(count(*) AS BIGINT)          AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
       CAST(sum(doc_id) AS BIGINT)       AS id_checksum
FROM documents
GROUP BY lang
ORDER BY lang
"""


@register("source_text_lines", oracle=_TEXT_LINES_ORACLE)
def source_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize documents one-per-line (doc_id \\t lang \\t text),
    write via the text sink, read back via `spark.read.text`, re-parse
    with a limit-3 split (text survives even if it contains tabs;
    the fixture corpus is single-line so line framing is lossless),
    and aggregate per lang. The oracle computes the same figures from
    the parquet table -- a hash pass proves the line round-trip
    preserved ids, lang routing, and every text byte.

    Scale: the text source splits by line across tasks like any file
    source; parsing is three scan-fused string ops, no UDF."""
    docs = load(spark, sf_dir, "documents")
    path = scratch_dir("text_lines", sf_dir)
    (
        docs.select(
            F.concat_ws(
                "\t", F.col("doc_id").cast("string"), "lang", "text"
            ).alias("value")
        )
        .write.mode("overwrite").text(path)
    )
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), "\t", 3)
    return (
        lines.select(
            parts.getItem(0).cast("long").alias("doc_id"),
            parts.getItem(1).alias("lang"),
            parts.getItem(2).alias("text"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("sum_text_len"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("lang")
    )


def _payload_sql() -> str:
    # NOTE: register() whitespace-normalizes oracle SQL, so multi-
    # space string literals would silently collapse -- the padding
    # style builds its spaces with repeat(' ', 2) instead.
    return """
  CASE c_custkey % 8
    WHEN 0 THEN 'plain_' || CAST(c_custkey AS VARCHAR)
    WHEN 1 THEN 'a,comma,' || CAST(c_custkey AS VARCHAR)
    WHEN 2 THEN 'a"quote"' || CAST(c_custkey AS VARCHAR)
    WHEN 3 THEN 'line1' || chr(10) || 'line2_' || CAST(c_custkey AS VARCHAR)
    WHEN 4 THEN 'tab' || chr(9) || 'sep_' || CAST(c_custkey AS VARCHAR)
    WHEN 5 THEN repeat(' ', 2) || 'spaced_' || CAST(c_custkey AS VARCHAR)
                || repeat(' ', 2)
    WHEN 6 THEN 'café_ü_' || CAST(c_custkey AS VARCHAR)
    ELSE 'NULL'
  END
"""


_CSV_ORACLE = f"""
WITH p AS (
  SELECT c_custkey, CAST(c_custkey % 8 AS BIGINT) AS style,
         {_payload_sql()} AS payload
  FROM customer
)
SELECT style,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(length(payload)) AS BIGINT) AS sum_len,
       CAST(sum(CAST('0x' || substr(md5(payload || ':ck'), 1, 6) AS BIGINT)
                % 1000000) AS BIGINT) AS checksum
FROM p
GROUP BY style
ORDER BY style
"""


def _payload_col():
    k = F.col("c_custkey").cast("string")
    s = F.col("c_custkey") % 8
    return (
        F.when(s == 0, F.concat(F.lit("plain_"), k))
        .when(s == 1, F.concat(F.lit("a,comma,"), k))
        .when(s == 2, F.concat(F.lit('a"quote"'), k))
        .when(s == 3, F.concat(F.lit("line1\nline2_"), k))
        .when(s == 4, F.concat(F.lit("tab\tsep_"), k))
        .when(s == 5, F.concat(F.lit("  spaced_"), k, F.lit("  ")))
        .when(s == 6, F.concat(F.lit("café_ü_"), k))
        .otherwise(F.lit("NULL"))
    )


@register("source_csv_roundtrip_edgecases", oracle=_CSV_ORACLE)
def source_csv_roundtrip_edgecases(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Write 8 styles of hostile CSV payloads through the CSV sink
    (RFC-4180 quoting) and read them back with the multiLine parser;
    per-style checksums prove byte fidelity."""
    cust = load(spark, sf_dir, "customer")
    path = scratch_dir("csv_edge", sf_dir)
    (
        cust.select(
            F.col("c_custkey").alias("k"),
            (F.col("c_custkey") % 8).cast("long").alias("style"),
            _payload_col().alias("payload"),
        )
        .write.mode("overwrite")
        # the WRITER also trims whitespace by default -- disable on
        # both sides or style 5 silently loses its padding
        .options(header=True, quote='"', escape='"',
                 ignoreLeadingWhiteSpace=False,
                 ignoreTrailingWhiteSpace=False)
        .csv(path)
    )
    back = (
        spark.read
        .options(header=True, multiLine=True, quote='"', escape='"',
                 ignoreLeadingWhiteSpace=False,
                 ignoreTrailingWhiteSpace=False,
                 inferSchema=False)
        .csv(path)
    )
    return (
        back.select(
            F.col("style").cast("long").alias("style"),
            F.col("payload"),
        )
        .groupBy("style")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.length("payload")).cast("long").alias("sum_len"),
            F.sum(md5_bucket(F.concat(F.col("payload"), F.lit(":ck")),
                             1000000)).cast("long").alias("checksum"),
        )
        .orderBy("style")
    )


_XML_ORACLE = """
SELECT s_nationkey,
       CAST(count(*) AS BIGINT) AS n_supp,
       CAST(sum(floor(s_acctbal * 100 + 0.5)) AS BIGINT) AS bal_cents,
       CAST(sum(length(s_name)) AS BIGINT) AS name_bytes,
       CAST(min(s_suppkey) AS BIGINT) AS min_key,
       CAST(max(s_suppkey) AS BIGINT) AS max_key
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


@register("source_xml_roundtrip", oracle=_XML_ORACLE)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publish supplier as XML, read back with an explicit schema,
    aggregate per nation -- file-format fidelity under the oracle."""
    supp = load(spark, sf_dir, "supplier")
    path = scratch_dir("xml_roundtrip", sf_dir)
    (
        supp.write.mode("overwrite").format("xml")
        .option("rootTag", "suppliers").option("rowTag", "supplier")
        .save(path)
    )
    back = (
        spark.read.format("xml").option("rowTag", "supplier")
        .schema("s_suppkey long, s_name string, s_nationkey int, "
                "s_acctbal double")
        .load(path)
    )
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_supp"),
            F.sum(F.floor(F.col("s_acctbal") * 100 + 0.5))
            .cast("long").alias("bal_cents"),
            F.sum(F.length("s_name")).cast("long").alias("name_bytes"),
            F.min("s_suppkey").cast("long").alias("min_key"),
            F.max("s_suppkey").cast("long").alias("max_key"),
        )
        .orderBy("s_nationkey")
    )
