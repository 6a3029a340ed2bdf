"""Round-4 (continued) additions: XML file-source round-trip,
Pythagorean means, threshold sweep for precision/recall/F1.

- `source_xml_roundtrip` -- the native XML FILE source (Spark 4
  ships spark-xml in-box): publish the supplier table as an XML
  dataset, read it back with an explicit schema, and aggregate per
  nation. `scalar_xml_roundtrip` already covers from_xml/to_xml as
  COLUMN functions; this entry proves the file format itself
  (writer framing, reader schema application, numeric round-trip).
- `agg_pythagorean_means` -- arithmetic / geometric / harmonic means
  of per-line price cents per return flag: geometric via int64-
  quantized snapped-ln sums, harmonic via int64-quantized reciprocal
  sums (both order-independent reduces), with the AM >= GM >= HM
  invariant pinned in tests.
- `ml_threshold_sweep_prf` -- the precision/recall/F1 operating-
  curve table: confusion counts of the (label = 0) class against the
  snapped first embedding component at 9 fixed thresholds -- the
  model-eval primitive between a single confusion matrix and full
  AUC. One scan, one conditional-sum groupBy per threshold via a
  small literal threshold axis.

Reference parity: diagram-only reference (SURVEY.md §0); extends the
[S] source matrix and [C] model-eval families (BASELINE.json:6).

Registered LAST (queries/__init__._load_all) so the pre-flighted
driver window is never displaced mid-round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, scratch_dir
from ..functions.exact import snap6 as _snap6
from . import register
from ..session import local_frame

# ---------------------------------------------------------------------------
# XML file source. The writer frames rows under rowTag; the readback
# applies the supplier schema explicitly (XML is stringly typed --
# schema application is part of what's being proven). The oracle
# computes the same rollup straight from parquet: a hash pass means
# every key, name byte, and acctbal cent survived the XML hop.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Pythagorean means over price cents (always positive). Geometric:
# exp(mean(ln x)) with each ln snapped then int64-quantized so the
# sum is order-independent; the final exp snaps. Harmonic:
# n / sum(1/x) with each reciprocal quantized at 1e-12 (cents are
# ~1e2..1e7, so 1/x needs the finer grid; int64 holds 6e6 rows of
# 1e-12-quantized reciprocals with 10 digits to spare).
# ---------------------------------------------------------------------------

_PYTH_ORACLE = """
WITH c AS (
  SELECT l_returnflag,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem
),
q AS (
  SELECT l_returnflag, cents,
         CAST(floor((floor(ln(cents) * 1e6 + 0.5) / 1e6) * 1e6 + 0.5)
              AS BIGINT) AS ln_q,
         CAST(floor(1e12 / cents + 0.5) AS BIGINT) AS inv_q
  FROM c
)
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       floor(sum(cents) / 100.0 / count(*) * 1e6 + 0.5) / 1e6
         AS mean_arith_s,
       floor(exp(sum(ln_q) / 1e6 / count(*)) / 100.0 * 1e6 + 0.5) / 1e6
         AS mean_geom_s,
       floor(count(*) * 1e12 / sum(inv_q) / 100.0 * 1e6 + 0.5) / 1e6
         AS mean_harm_s
FROM q
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_pythagorean_means", oracle=_PYTH_ORACLE)
def agg_pythagorean_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic / geometric / harmonic mean price per return flag
    from order-independent int64-quantized reduces."""
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    q = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", cents.alias("cents"),
    ).select(
        "l_returnflag", "cents",
        F.floor(_snap6(F.log("cents")) * 1e6 + 0.5).cast("long")
        .alias("ln_q"),
        F.floor(1e12 / F.col("cents") + 0.5).cast("long").alias("inv_q"),
    )
    n = F.count(F.lit(1))
    return (
        q.groupBy("l_returnflag")
        .agg(
            n.cast("long").alias("n_rows"),
            _snap6(F.sum("cents") / 100.0 / n).alias("mean_arith_s"),
            _snap6(F.exp(F.sum("ln_q") / 1e6 / n) / 100.0)
            .alias("mean_geom_s"),
            _snap6(n * 1e12 / F.sum("inv_q") / 100.0)
            .alias("mean_harm_s"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Threshold sweep. Positive class: label = 0 in the embeddings
# table; score: first embedding component snapped to the 1e-6 grid
# (identical parquet floats both engines, so threshold comparisons
# are exact). The 9-point threshold axis is a literal dimension
# cross-joined onto per-row flags; counts are conditional sums --
# one scan, no join wider than the 9-row broadcast.
# ---------------------------------------------------------------------------

_THRESHOLDS = [round(-0.4 + 0.1 * i, 1) for i in range(9)]  # -0.4..0.4

_PRF_ORACLE = f"""
WITH scored AS (
  SELECT CASE WHEN label = 0 THEN 1 ELSE 0 END AS y,
         floor(CAST(embedding[1] AS DOUBLE) * 1e6 + 0.5) / 1e6 AS s
  FROM embeddings
),
axis AS (
  SELECT unnest([{", ".join(str(t) for t in _THRESHOLDS)}]) AS thr
),
conf AS (
  SELECT a.thr,
         CAST(sum(CASE WHEN s >= a.thr AND y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(sum(CASE WHEN s >= a.thr AND y = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(sum(CASE WHEN s < a.thr AND y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS fn,
         CAST(sum(CASE WHEN s < a.thr AND y = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS tn
  FROM scored, axis a GROUP BY a.thr
)
SELECT thr, tp, fp, fn, tn,
       floor(tp / CAST(nullif(tp + fp, 0) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS precision_s,
       floor(tp / CAST(nullif(tp + fn, 0) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS recall_s,
       floor(2.0 * tp / CAST(nullif(2 * tp + fp + fn, 0) AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS f1_s
FROM conf
ORDER BY thr
"""


@register("ml_threshold_sweep_prf", oracle=_PRF_ORACLE)
def ml_threshold_sweep_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision / recall / F1 at 9 fixed thresholds of the snapped
    first embedding component vs the label-0 class."""
    emb = load(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.when(F.col("label") == 0, 1).otherwise(0).alias("y"),
        _snap6(F.element_at("embedding", 1).cast("double")).alias("s"),
    )
    axis = F.broadcast(
        local_frame(spark, [(t,) for t in _THRESHOLDS], "thr double"))
    conf = (
        scored.crossJoin(axis)
        .groupBy("thr")
        .agg(
            F.sum(F.when((F.col("s") >= F.col("thr"))
                         & (F.col("y") == 1), 1).otherwise(0))
            .cast("long").alias("tp"),
            F.sum(F.when((F.col("s") >= F.col("thr"))
                         & (F.col("y") == 0), 1).otherwise(0))
            .cast("long").alias("fp"),
            F.sum(F.when((F.col("s") < F.col("thr"))
                         & (F.col("y") == 1), 1).otherwise(0))
            .cast("long").alias("fn"),
            F.sum(F.when((F.col("s") < F.col("thr"))
                         & (F.col("y") == 0), 1).otherwise(0))
            .cast("long").alias("tn"),
        )
    )
    prec = _snap6(F.col("tp")
                  / F.nullif(F.col("tp") + F.col("fp"), F.lit(0))
                  .cast("double"))
    rec = _snap6(F.col("tp")
                 / F.nullif(F.col("tp") + F.col("fn"), F.lit(0))
                 .cast("double"))
    f1 = _snap6(2.0 * F.col("tp")
                / F.nullif(2 * F.col("tp") + F.col("fp") + F.col("fn"),
                           F.lit(0)).cast("double"))
    return (
        conf.select("thr", "tp", "fp", "fn", "tn",
                    prec.alias("precision_s"), rec.alias("recall_s"),
                    f1.alias("f1_s"))
        .orderBy("thr")
    )
