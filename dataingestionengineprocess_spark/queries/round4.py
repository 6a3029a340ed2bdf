"""Round-4 additions: the JDBC path under the oracle gate.

S5/J6/S7 (reference: the PostgreSQL operational-store round-trip,
`Untitled Diagram.drawio:88-98`) were previously pytest-only because
the sandbox has no database server. Apache Derby's EMBEDDED driver
(shipped with Spark) is a file-backed JDBC database: a real JDBC
endpoint -- DriverManager, SQL dialect, type mapping, partitioned
range queries -- with the storage on local disk. That makes the whole
write -> partitioned-read -> enrich path runnable under the DuckDB
oracle: the only thing the stand-in changes vs a networked RDBMS is
the URL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, scratch_dir
from . import register
from ..session import local_frame

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


# ---------------------------------------------------------------------------
# Repetition filters (the Gopher / MassiveText quality-gate family):
# documents dominated by a few repeated n-grams are boilerplate and
# get filtered before pretraining. Two standard signals per document:
#   top2_frac -- occurrences of the MOST COMMON word 2-gram over all
#                2-gram occurrences (templated headers/footers spike);
#   dup3_frac -- fraction of 3-gram occurrences whose gram occurs
#                more than once (self-plagiarized / looping text).
# Shape at 100 TB: one explode to (doc_id, n, gram) rows, one partial-
# aggregated count keyed by that composite -- the same uniform-key
# shuffle profile as tokenization, no per-doc skew beyond doc length;
# the gram build itself is JVM-side array code (transform/sequence),
# no Python.
# ---------------------------------------------------------------------------

_REPETITION_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, 2 AS n,
         unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS g
  FROM toks WHERE len(t) >= 2
  UNION ALL
  SELECT doc_id, 3 AS n,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))
  FROM toks WHERE len(t) >= 3
),
cnt AS (
  SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3
),
per_doc AS (
  SELECT doc_id,
         max(CASE WHEN n = 2 THEN c END) AS top2,
         sum(CASE WHEN n = 2 THEN c END) AS tot2,
         sum(CASE WHEN n = 3 AND c > 1 THEN c ELSE 0 END) AS dup3,
         sum(CASE WHEN n = 3 THEN c END) AS tot3
  FROM cnt GROUP BY doc_id
)
SELECT doc_id,
       floor(top2 * 1e6 / tot2 + 0.5) / 1e6 AS top2_frac,
       floor(dup3 * 1e6 / tot3 + 0.5) / 1e6 AS dup3_frac,
       (top2 * 12 <= tot2 AND dup3 * 10 <= tot3) AS keep
FROM per_doc
WHERE tot2 IS NOT NULL AND tot3 IS NOT NULL
ORDER BY doc_id
"""


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-document repetition statistics (doc_id, top2, tot2, dup3,
    tot3) — shared by `text_repetition_filters` and the capstone gate
    chain (`round4b.curation_pretrain_pipeline`) so the gram build and
    the x12/x10 keep-rule inputs live in exactly one Spark site.

    Both n-gram families come from ONE scan/Generate: each doc
    projects a single array of (n, gram) structs (2-grams ++ 3-grams)
    and explodes once — a union of per-n branches would scan the text
    column twice, doubling the dominant IO at corpus scale."""
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))

    def gram_structs(n: int) -> str:
        g = " || ' ' || ".join(f"element_at(t, i + {j})" for j in range(n))
        return (
            f"if(size(t) >= {n}, "
            f"transform(sequence(1, size(t) - {n - 1}), "
            f"i -> named_struct('n', {n}, 'g', {g})), "
            f"cast(array() as array<struct<n:int,g:string>>))"
        )

    cnt = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(f"{gram_structs(2)} || {gram_structs(3)}")
            ).alias("s"),
        )
        .select("doc_id", F.col("s.n").alias("n"), F.col("s.g").alias("g"))
        .groupBy("doc_id", "n", "g")
        .agg(F.count("*").alias("c"))
    )
    return cnt.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == 2, F.col("c"))).alias("top2"),
        F.sum(F.when(F.col("n") == 2, F.col("c"))).alias("tot2"),
        F.sum(F.when((F.col("n") == 3) & (F.col("c") > 1), F.col("c"))
              .otherwise(0)).alias("dup3"),
        F.sum(F.when(F.col("n") == 3, F.col("c"))).alias("tot3"),
    )


@register("text_repetition_filters", oracle=_REPETITION_ORACLE)
def text_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition gates. The keep rule (top 2-gram <= 1/12
    of 2-gram mass AND duplicated-3-gram mass <= 1/10) uses exact
    integer comparisons (c * k <= total) so the boolean never rides a
    float; the reported fractions round via the floor(x*1e6+0.5)
    portable rule (FIXTURES.md)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    per_doc = repetition_stats(docs)
    return (
        per_doc
        .filter(F.col("tot2").isNotNull() & F.col("tot3").isNotNull())
        .select(
            "doc_id",
            (F.floor(F.col("top2") * 1e6 / F.col("tot2") + 0.5) / 1e6)
            .alias("top2_frac"),
            (F.floor(F.col("dup3") * 1e6 / F.col("tot3") + 0.5) / 1e6)
            .alias("dup3_frac"),
            ((F.col("top2") * 12 <= F.col("tot2"))
             & (F.col("dup3") * 10 <= F.col("tot3"))).alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# SemDeDup certificate under the oracle gate. The greedy
# farthest-first prune's kept/dropped partition is engine-side (a
# sequential scan inside applyInPandas -- not SQL-expressible), so
# like the bounded-error sketch family the query ships the
# algorithm's CONTRACT per cluster:
#   drops_sound  -- every dropped vector names a rep that is KEPT, in
#                   the SAME cluster, with recomputed cosine >=
#                   threshold (up to 1e-9 for fold-order ulp);
#   kept_sample_diverse -- no two kept vectors (certificate capped at
#                   the first 300 per cluster by id; full pairwise is
#                   O(kept^2) and this is the region any violation
#                   would appear in first) reach the threshold.
# Cluster assignment uses train='portable' (the shared md5-init rule),
# so the per-cluster memberships ARE SQL-replicable: the oracle
# replays the assignment (same CTEs as the hash-checked IVF portable
# twin, queries/similarity._ivf_portable_oracle) to verify n_vectors
# and asserts the certificate booleans TRUE. Soundness + maximality
# pin SemDeDup's semantics up to greedy order; the recall behavior of
# the deployable k-means configuration stays covered by
# `dedup_semantic_embedding`'s planted-dup pytest.
# ---------------------------------------------------------------------------

#: shared between the Spark call site and the oracle f-string (the
#: _DSIR_B pattern) -- a drifting literal would make DuckDB's list
#: indexing silently NULL-truncate past the real dimension instead of
#: erroring
_SEMDEDUP_K = 8
_SEMDEDUP_DIM = 64

_SEMDEDUP_PORTABLE_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
samp AS (
  SELECT vec_id, v,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
             - 1 AS j
  FROM e QUALIFY j < {_SEMDEDUP_K}
),
cent AS (
  SELECT j, v AS cv,
         sqrt(list_sum([v[i] * v[i]
                        for i in range(1, {_SEMDEDUP_DIM + 1})])) AS nrm
  FROM samp
),
assign AS (
  SELECT e.vec_id, c.j,
         list_sum([e.v[i] * (c.cv[i] / c.nrm)
                   for i in range(1, {_SEMDEDUP_DIM + 1})]) AS score
  FROM e, cent c
),
best AS (
  SELECT vec_id, j AS clabel FROM (
    SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY score DESC, j) AS rn
    FROM assign
  ) WHERE rn = 1
)
SELECT CAST(clabel AS INT) AS clabel,
       CAST(count(*) AS BIGINT) AS n_vectors,
       TRUE AS drops_sound,
       TRUE AS kept_sample_diverse
FROM best GROUP BY clabel ORDER BY clabel
"""


@register("dedup_semantic_portable", oracle=_SEMDEDUP_PORTABLE_ORACLE)
def dedup_semantic_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.vectors import as_double, dot, l2_norm
    from ..operators.quantize import semantic_dedup

    threshold, eps = 0.92, 1e-9
    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    if dim != _SEMDEDUP_DIM:
        raise ValueError(
            f"embeddings have dim {dim}; oracle is built for "
            f"{_SEMDEDUP_DIM} -- update _SEMDEDUP_DIM"
        )
    res = semantic_dedup(
        emb, threshold=threshold, n_clusters=_SEMDEDUP_K, train="portable"
    ).localCheckpoint(eager=True)
    # Norms ride each vector ONCE (the norm_side idiom): the two
    # pairwise certificate scans below would otherwise re-fold both
    # operand norms per PAIR -- 3x the aggregate-lambda work of the
    # dot product alone (r10 profile: the cert joins, not the
    # operator, dominated this query). dot/(na*nb) is the same fold,
    # same sqrt, same division order as cosine(), so every compared
    # double is bit-identical.
    vecs = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        as_double("embedding").alias("v"),
    ).withColumn("n", l2_norm(F.col("v")))

    kept = res.filter("keep")
    drops = (
        res.filter(~F.col("keep"))
        .select("vec_id", "clabel", "rep_id")
        .join(vecs, "vec_id")
        .join(
            kept.select(F.col("vec_id").alias("rep_id"),
                        F.col("clabel").alias("rep_clabel")),
            "rep_id", "left",
        )
        .join(vecs.select(F.col("vec_id").alias("rep_id"),
                          F.col("v").alias("rep_v"),
                          F.col("n").alias("rep_n")),
              "rep_id", "left")
    )
    drop_cert = drops.groupBy("clabel").agg(
        F.min(
            F.col("rep_clabel").isNotNull()
            & (F.col("rep_clabel") == F.col("clabel"))
            & (dot(F.col("v"), F.col("rep_v"))
               / (F.col("n") * F.col("rep_n")) >= threshold - eps)
        ).alias("drops_sound")
    )

    capped = (
        kept.withColumn(
            "rn", F.row_number().over(
                Window.partitionBy("clabel").orderBy("vec_id"))
        )
        .filter(F.col("rn") <= 300)
        .join(vecs, "vec_id")
        .select("clabel", "rn", "v", "n")
    )
    pairs = capped.alias("a").join(
        capped.alias("b"),
        (F.col("a.clabel") == F.col("b.clabel"))
        & (F.col("a.rn") < F.col("b.rn")),
    )
    diverse_cert = pairs.groupBy(F.col("a.clabel").alias("clabel")).agg(
        F.min(
            dot(F.col("a.v"), F.col("b.v"))
            / (F.col("a.n") * F.col("b.n")) < threshold + eps
        ).alias("kept_sample_diverse")
    )

    return (
        res.groupBy("clabel").agg(F.count("*").alias("n_vectors"))
        .join(drop_cert, "clabel", "left")
        .join(diverse_cert, "clabel", "left")
        .select(
            "clabel", "n_vectors",
            F.coalesce("drops_sound", F.lit(True)).alias("drops_sound"),
            F.coalesce("kept_sample_diverse", F.lit(True))
            .alias("kept_sample_diverse"),
        )
        .orderBy("clabel")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Data Selection with Importance
# Resampling, Xie et al. 2023 -- public method): score every document
# by how much more likely its hashed n-gram bag is under a TARGET
# distribution (here: the corpus's English documents, standing in for
# "high-quality reference") than under the raw SOURCE distribution,
# then Gumbel-top-k sample the highest importance weights. This is
# the data-mixing selector a pretraining pipeline runs between
# dedup and packing.
#
# Scale shape: features hash into B=128 buckets (corpus-size-
# independent model state); both multinomial models are ONE groupBy
# over the (doc, bucket) counts; the 128-row log-ratio table
# broadcasts; the per-doc weight is a deterministic ordered fold
# (array_sort + aggregate -- the text_unigram_logprob idiom, bit-
# stable across engines); selection is TakeOrdered(k) for the
# threshold + a broadcast scalar comparison, never a global
# single-partition window. Everything -- md5 bucket hash, Laplace
# smoothing, log-ratio, md5-derived Gumbel noise, the top-k rule --
# is replayed by the DuckDB oracle.
# ---------------------------------------------------------------------------

_DSIR_B = 128

#: unigrams ++ bigrams from the token array `t` -- the ONE gram rule
#: shared by the batch selector and the streaming gate (and replayed
#: verbatim by both oracles). The size guard matters: sequence(1, 0)
#: is the DESCENDING [1, 0] in Spark, not empty like DuckDB's range.
_DSIR_GRAMS_EXPR = (
    "t || if(size(t) >= 2, transform(sequence(1, size(t) - 1), "
    "i -> element_at(t, i) || ' ' || element_at(t, i + 1)), "
    "cast(array() as array<string>))"
)


def _dsir_bucket(col):
    """md5-hex feature bucket in [0, _DSIR_B) -- portable across
    engines (CAST('0x'||substr(md5(g),1,6) AS BIGINT) % B in DuckDB)."""
    return F.pmod(
        F.conv(F.substring(F.md5(col.cast("binary")), 1, 6), 16, 10)
        .cast("long"),
        F.lit(_DSIR_B),
    )


def _dsir_with_grams(df: DataFrame) -> DataFrame:
    return df.withColumn("t", F.split("text", " ")).withColumn(
        "grams", F.expr(_DSIR_GRAMS_EXPR)
    )


_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, lang, unnest(
    t || coalesce(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i + 1]), [])
  ) AS g
  FROM toks
),
feat AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5(g), 1, 6) AS BIGINT) % {_DSIR_B} AS b,
         count(*) AS c
  FROM grams GROUP BY 1, 2, 3
),
model AS (
  SELECT b,
         sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS ct,
         sum(c) AS cs
  FROM feat GROUP BY b
),
tot AS (SELECT sum(ct) AS t_n, sum(cs) AS s_n FROM model),
ratio AS (
  SELECT b, ln(((ct + 1.0) / (t_n + {_DSIR_B}))
               / ((cs + 1.0) / (s_n + {_DSIR_B}))) AS lr
  FROM model, tot
),
dw AS (
  SELECT f.doc_id,
         list_sum(list(f.c * r.lr ORDER BY f.b)) AS logw
  FROM feat f JOIN ratio r USING (b) GROUP BY f.doc_id
),
sc AS (
  SELECT doc_id, logw,
         logw - ln(-ln(
           (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
                 AS BIGINT) + 1) / 16777217.0)) AS score
  FROM dw
),
ranked AS (
  SELECT doc_id, logw,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rnk,
         count(*) OVER () AS n
  FROM sc
)
SELECT doc_id,
       floor(logw * 1e4 + 0.5) / 1e4 AS logw,
       (rnk <= CAST(floor(n * 0.25) AS BIGINT)) AS selected
FROM ranked ORDER BY doc_id
"""


@register("curation_dsir_weights", oracle=_DSIR_ORACLE)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    B = _DSIR_B
    from ..operators.skew import spread_input

    # spread: single-file source; the gram explode + md5 bucket hash
    # feeding the checkpoint below would serialize onto one core
    docs = spread_input(load(spark, sf_dir, "documents")) \
        .select("doc_id", "lang", "text")
    grams = _dsir_with_grams(docs).select(
        "doc_id", "lang", F.explode("grams").alias("g")
    )
    feat = (
        grams.withColumn("b", _dsir_bucket(F.col("g")))
        .groupBy("doc_id", "lang", "b")
        .agg(F.count("*").alias("c"))
        # feat feeds the model aggregate AND the per-doc fold;
        # materialize so the explode+hash scan runs once
        .localCheckpoint(eager=True)
    )
    model = feat.groupBy("b").agg(
        F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(0))
        .alias("ct"),
        F.sum("c").alias("cs"),
    )
    tot = model.agg(F.sum("ct").alias("t_n"), F.sum("cs").alias("s_n"))
    ratio = model.crossJoin(F.broadcast(tot)).select(
        "b",
        F.log(
            ((F.col("ct") + F.lit(1.0)) / (F.col("t_n") + F.lit(float(B))))
            / ((F.col("cs") + F.lit(1.0)) / (F.col("s_n") + F.lit(float(B))))
        ).alias("lr"),
    )
    ordered_sum = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("b", "term"))),
            lambda s: s.getField("term"),
        ),
        F.lit(0.0), lambda a, x: a + x,
    )
    dw = (
        feat.join(F.broadcast(ratio), "b")
        .select("doc_id", "b", (F.col("c") * F.col("lr")).alias("term"))
        .groupBy("doc_id")
        .agg(ordered_sum.alias("logw"))
    )
    u = (
        (F.conv(F.substring(
            F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 6),
            16, 10).cast("long") + F.lit(1))
        / F.lit(16777217.0)
    )
    sc = dw.select(
        "doc_id", "logw",
        (F.col("logw") - F.log(-F.log(u))).alias("score"),
    ).localCheckpoint(eager=True)

    n_docs = sc.count()
    k = int(n_docs * 0.25)
    # threshold = the k-th (score DESC, doc_id ASC) entry, found with
    # TakeOrdered(k) -- no global single-partition window
    kth = (
        sc.select(F.struct(
            (-F.col("score")).alias("neg"), F.col("doc_id").alias("d")
        ).alias("key"))
        .orderBy("key")
        .limit(k)
        .agg(F.max("key").alias("key"))
    )
    return (
        sc.crossJoin(F.broadcast(kth))
        .select(
            "doc_id",
            (F.floor(F.col("logw") * 1e4 + 0.5) / 1e4).alias("logw"),
            (
                (F.lit(k) > 0)
                & (F.struct(
                    (-F.col("score")).alias("neg"),
                    F.col("doc_id").alias("d"),
                ) <= F.col("key"))
            ).alias("selected"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# BPE trainer certificate (round 4 -- historical first oracle for the
# family; since round 10 `text_bpe_train_merges` itself is a
# certificate that additionally replays merge TWO via a recursive
# fold, see queries/text.py). The full merge LOOP is not
# SQL-expressible (each round's argmax depends on the previous
# round's rewrite); two strong facts ARE oracle-checkable and give
# the family driver-hash evidence:
#   first_merge -- round 1 needs no recursion: the oracle recomputes
#       the word-frequency-weighted adjacent-character pair argmax
#       (count DESC, then lexicographic (l, r) -- the trainer's exact
#       tie-break) and must reproduce the trainer's (left, right,
#       pair_freq) verbatim. This pins the counting + tie-break logic
#       on real data.
#   well_formed_chain -- every later merge's operands must each be a
#       single corpus character or the output of an EARLIER merge,
#       ranks contiguous from 0, every pair_freq >= min_freq: the
#       structural invariant of a valid BPE chain, computed
#       Spark-side and asserted TRUE by the oracle.
# Oracle notes (register() collapses the SQL onto ONE line via
# " ".join(split()), so a '--' comment would swallow the whole rest
# of the query -- never put SQL comments in oracle strings; notes
# live here instead): the pairs CTE uses a PER-ROW
# unnest(range(1, len(s))) -- no length cap, so 1000+-char tokens
# count every position exactly like the trainer; the first CTE
# filters c >= 2 (the trainer's min_freq), and a corpus with no
# qualifying pair yields an empty `first`, NULL fields and ok=FALSE
# on BOTH rows -- matching the Spark side's no-merges answer.
# ---------------------------------------------------------------------------

_BPE_CERT_ORACLE = """
WITH words AS (
  SELECT w, count(*) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w <> '' GROUP BY w
),
chars AS (
  SELECT freq,
         list_transform(range(1, length(w) + 1),
                        i -> substring(w, CAST(i AS INT), 1)) AS s
  FROM words
),
pairs AS (
  SELECT s[i] AS l, s[i + 1] AS r, sum(freq) AS c
  FROM (SELECT freq, s, unnest(range(1, len(s))) AS i FROM chars)
  GROUP BY 1, 2
),
first AS (
  SELECT l, r, c FROM pairs WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1
)
SELECT 'first_merge' AS item, f.l AS left_sym, f.r AS right_sym,
       CAST(f.c AS BIGINT) AS pair_freq, f.l IS NOT NULL AS ok
FROM (SELECT 1) LEFT JOIN first f ON TRUE
UNION ALL
SELECT 'well_formed_chain', NULL, NULL, NULL,
       EXISTS (SELECT 1 FROM first)
ORDER BY item
"""


@register("text_bpe_train_certificate", oracle=_BPE_CERT_ORACLE)
def text_bpe_train_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens
    from ..operators.bpe import bpe_train_merges

    docs = load(spark, sf_dir, "documents")
    merges = (
        bpe_train_merges(docs, num_merges=16).orderBy("rank").collect()
    )
    # the trainer's base symbol set: every character of every
    # non-empty whitespace token (same tokenization as the trainer)
    known = {
        r["ch"]
        for r in (
            docs.select(F.explode(tokens("text")).alias("w"))
            .filter(F.col("w") != "")
            .select(F.explode(F.split("w", "")).alias("ch"))
            .filter(F.col("ch") != "")
            .distinct()
            .collect()
        )
    }
    well_formed = bool(merges)
    for i, m in enumerate(merges):
        well_formed &= (
            m["rank"] == i
            and m["left"] in known
            and m["right"] in known
            and m["merged"] == m["left"] + m["right"]
            and m["pair_freq"] >= 2
        )
        known.add(m["merged"])

    f = merges[0] if merges else None
    rows = [
        ("first_merge",
         f["left"] if f else None,
         f["right"] if f else None,
         int(f["pair_freq"]) if f else None,
         f is not None),
        ("well_formed_chain", None, None, None, well_formed),
    ]
    return local_frame(
        spark, rows,
        "item string, left_sym string, right_sym string, "
        "pair_freq long, ok boolean",
    ).orderBy("item")


# ---------------------------------------------------------------------------
# DSIR as a LIVE STREAMING GATE (ST+ family): the importance-weight
# model fits once on the static corpus, then documents are scored and
# gated AS FILES LAND -- the shape a crawl-ingest pipeline runs, where
# data selection can't wait for a nightly batch. The streaming stage
# is STATELESS: the 128-entry log-ratio table and the admission
# threshold inline as literals, so each document's score is a pure
# scalar fold over its own gram array -- no shuffle, no state store,
# unbounded sustained throughput. Because the gate is stateless, the
# drained append-mode result equals the batch answer and the full
# DuckDB oracle replays model fit, per-doc ordered fold, threshold
# and gate. The threshold is the k-th largest score itself (a data
# value, not an interpolated quantile), so the >= comparison is
# anchored to a number both engines derive identically.
# ---------------------------------------------------------------------------

_STREAM_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
),
docgrams AS (
  SELECT doc_id, lang,
         t || coalesce(list_transform(range(1, len(t)),
                                      i -> t[i] || ' ' || t[i + 1]), [])
             AS grams
  FROM toks
),
g AS (
  SELECT doc_id, lang,
         unnest(grams) AS g,
         generate_subscripts(grams, 1) AS pos
  FROM docgrams
),
feat AS (
  SELECT doc_id, lang, pos, g,
         CAST('0x' || substr(md5(g), 1, 6) AS BIGINT) % {128} AS b
  FROM g
),
model AS (
  SELECT b,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct,
         count(*) AS cs
  FROM feat GROUP BY b
),
tot AS (SELECT sum(ct) AS t_n, sum(cs) AS s_n FROM model),
ratio AS (
  SELECT b, ln(((ct + 1.0) / (t_n + {128}))
               / ((cs + 1.0) / (s_n + {128}))) AS lr
  FROM model, tot
),
dw AS (
  SELECT f.doc_id,
         list_sum(list(r.lr ORDER BY f.pos)) AS logw
  FROM feat f JOIN ratio r USING (b) GROUP BY f.doc_id
),
ranked AS (
  SELECT doc_id, logw,
         row_number() OVER (ORDER BY logw DESC, doc_id) AS rnk,
         count(*) OVER () AS n
  FROM dw
),
th AS (
  SELECT max(CASE WHEN rnk = CAST(floor(n * 0.25) AS BIGINT)
             THEN logw END) AS kth
  FROM ranked
)
SELECT doc_id,
       floor(logw * 1e4 + 0.5) / 1e4 AS logw,
       floor(logw * 1e4 + 0.5) >= floor(kth * 1e4 + 0.5) AS passed
FROM ranked, th
ORDER BY doc_id
"""


@register("stream_dsir_gate", oracle=_STREAM_DSIR_ORACLE)
def stream_dsir_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import table_path
    from ..streaming.analytics import run_to_table

    B = _DSIR_B
    path = table_path(sf_dir, "documents")
    static = spark.read.parquet(path).select("doc_id", "lang", "text")

    # --- model fit on the static corpus: the grammed corpus is
    # materialized ONCE and feeds the model aggregate, the threshold
    # fold, and the doc count -- three consumers, one scan+gram build
    static_g = (
        _dsir_with_grams(static)
        .select("doc_id", "lang", "grams")
        .localCheckpoint(eager=True)
    )
    feat = (
        static_g
        .select("lang", F.explode("grams").alias("g"))
        .select("lang", _dsir_bucket(F.col("g")).alias("b"))
    )
    model = feat.groupBy("b").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
        F.count("*").alias("cs"),
    )
    t_n, s_n = model.agg(F.sum("ct"), F.sum("cs")).collect()[0]
    lr_by_bucket = {
        r["b"]: __import__("math").log(
            ((r["ct"] + 1.0) / (t_n + B)) / ((r["cs"] + 1.0) / (s_n + B))
        )
        for r in model.collect()
    }
    # buckets no gram hashes to never occur in scoring; 0.0 is inert
    lr_arr = [lr_by_bucket.get(b, 0.0) for b in range(B)]

    # per-doc score as ONE scalar fold in gram order (stateless)
    score = F.aggregate(
        F.transform(
            F.col("grams"),
            lambda g: F.element_at(F.lit(lr_arr),
                                   _dsir_bucket(g).cast("int") + 1),
        ),
        F.lit(0.0), lambda a, x: a + x,
    )

    # threshold: k-th largest static score via TakeOrdered(k) -- the
    # same expression the stream evaluates, so both sides of the gate
    # comparison come from one formula
    static_scores = static_g.select("doc_id", score.alias("logw"))
    n_docs = static_scores.count()
    k = int(n_docs * 0.25)
    kth = (
        static_scores.select(F.struct(
            (-F.col("logw")).alias("neg"), F.col("doc_id").alias("d")
        ).alias("key"))
        .orderBy("key")
        .limit(k)
        .agg(F.max("key"))
        .collect()[0][0]
    )
    threshold = -kth["neg"] if kth is not None else None

    # --- the live gate: stateless map over the file stream ---
    # threshold None (corpus under 4 docs -> k = 0) gates to NULL,
    # matching the oracle's NULL kth comparison on the same corpus
    passed = (
        F.lit(None).cast("boolean") if threshold is None
        else (F.floor(score * 1e4 + 0.5)
              >= F.floor(F.lit(threshold) * 1e4 + 0.5))
    )
    stream = spark.readStream.schema(
        spark.read.parquet(path).schema
    ).parquet(path.replace("documents.parquet", "documents.[p]arquet"))
    gated = _dsir_with_grams(stream).select(
        "doc_id",
        (F.floor(score * 1e4 + 0.5) / 1e4).alias("logw"),
        passed.alias("passed"),
    )
    return run_to_table(gated, spark, output_mode="append").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Incremental admission against a PERSISTED shingle index -- the 100 TB
# deployment shape of `dedup_incremental_admission` made concrete: the
# corpus's (s, corp_id, n_b) inverted index is published ONCE through
# the versioned sink (atomic snapshot, at scale partitioned/bucketed
# by s), and every subsequent batch admits against the index READBACK
# -- the corpus text is never re-shingled or re-scanned. Maintenance
# is an append of each admitted batch's index rows as the next
# snapshot version (exercised in pytest). Identical decisions to the
# inline-index form, so the same full relational oracle applies; a
# hash pass proves the publish -> scan -> prune -> join path, not
# just the arithmetic.
# ---------------------------------------------------------------------------


from .dedup import _INCREMENTAL_ORACLE  # noqa: E402 (same oracle as the inline form)


@register("dedup_admission_persisted_index", oracle=_INCREMENTAL_ORACLE)
def dedup_admission_persisted_index(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        build_shingle_index,
        incremental_jaccard_admission,
    )
    from ..sinks.versioned import VersionedTable

    docs = load(spark, sf_dir, "documents")
    new_batch = docs.filter(F.col("doc_id") % 8 == 7)
    corpus = docs.filter(F.col("doc_id") % 8 != 7)

    vt = VersionedTable(spark, scratch_dir("shingle_index", sf_dir))
    vt.publish(build_shingle_index(corpus, n=3))
    return incremental_jaccard_admission(
        None, new_batch, corpus_index=vt.read(), n=3, threshold=0.6,
    )


# ---------------------------------------------------------------------------
# Salted hot-key join under the oracle gate (operators/skew.py:30).
# AQE's skew split only repairs sort-merge joins after the shuffle has
# materialized the skew; EXPLICIT salting is the planned-ahead fix for
# a power-law key too hot even for a split partition. Semantics are
# identical to the plain equi-join (each fact row carries exactly one
# salt; the dim side is replicated across all of them), so the oracle
# is simply the UNSALTED join + rollup -- a hash pass proves the
# salt/replicate/join/drop pipeline loses and duplicates nothing,
# which is exactly the invariant salting must preserve. The skew
# mechanics themselves (dim replicated n_salts x, fact spread over
# (key, salt) partitions) are asserted on the physical plan in
# tests/test_plan_shapes.py.
# ---------------------------------------------------------------------------

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
