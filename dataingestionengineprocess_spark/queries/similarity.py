"""Similarity-search query surface over ``embeddings``.

SURVEY.md §2.3 J8 [C]: brute-force cosine top-k (exact baseline,
DuckDB-oracled), LSH-bucketed ANN (scale path, rows-only -- recall is
asserted against brute force in pytest), and relational
nearest-centroid classification (oracled; the IVF coarse-quantizer
building block).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.similarity import (
    brp_similarity_join,
    brute_force_topk,
    centroid_classify,
    ivf_topk,
    lsh_topk,
)
from ..functions.text import STOPWORDS
from ..functions.vectors import as_double, dot
from . import register
from ..session import local_frame

_SW_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

_COS = """list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
         * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"""

_KNN_ORACLE = f"""
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round({_COS}, 6) AS cos_sim,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY round({_COS}, 6) DESC, b.vec_id) AS rank
  FROM embeddings a
  JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 10
) WHERE rank <= 5
"""


@register("knn_bruteforce_cosine", oracle=_KNN_ORACLE)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return brute_force_topk(emb, queries, k=5)


def _bands_sql(n_planes: int = 8, n_bands: int = 8, dim: int = 64) -> str:
    """The SQL list literal of per-band signature keys over a column
    ``e`` (DOUBLE[]): the hyperplanes are deterministic Python-side
    constants (operators/similarity._plane), so the oracle inlines the
    IDENTICAL coefficient double literals and recomputes signature
    bits independently. Sign bits agree bit-exactly because both
    engines evaluate the same literals with the same left-to-right
    double accumulation (the JL-projection oracle's proven property).
    Shared by `_lsh_oracle` and the HNSW-layer oracle (round6)."""
    from ..operators.similarity import _plane

    band_exprs = []
    for b in range(n_bands):
        bits = []
        for p in range(n_planes):
            coeffs = _plane(f"band-{b}", p, dim)
            dot_sql = " + ".join(
                f"e[{i + 1}] * {c!r}" for i, c in enumerate(coeffs)
            )
            bits.append(
                f"(CASE WHEN ({dot_sql}) > 0 THEN {1 << p} ELSE 0 END)"
            )
        band_exprs.append("(" + " + ".join(bits) + ")")
    return "[" + ", ".join(band_exprs) + "]"


def _lsh_oracle(n_planes: int = 8, n_bands: int = 8, dim: int = 64,
                k: int = 5) -> str:
    """Full DuckDB replica of `lsh_topk` (see `_bands_sql`): signature
    bits, band buckets, candidate pairs and the exact re-rank, all
    recomputed independently."""
    bands_list = _bands_sql(n_planes, n_bands, dim)
    return f"""
WITH sig AS (
  SELECT vec_id, {bands_list} AS bands
  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
),
qb AS (
  SELECT vec_id, u.b AS band_idx, u.k AS band_key FROM (
    SELECT vec_id,
           unnest([{{'b': i, 'k': bands[i]}}
                   for i in range(1, {n_bands + 1})]) AS u
    FROM sig WHERE vec_id < 10)
),
cb AS (
  SELECT vec_id, u.b AS band_idx, u.k AS band_key FROM (
    SELECT vec_id,
           unnest([{{'b': i, 'k': bands[i]}}
                   for i in range(1, {n_bands + 1})]) AS u
    FROM sig)
),
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM qb JOIN cb ON qb.band_idx = cb.band_idx
                 AND qb.band_key = cb.band_key
  WHERE qb.vec_id <> cb.vec_id
),
scored AS (
  SELECT query_id, neighbor_id,
         round({_COS}, 6) AS cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round({_COS}, 6) DESC,
                                     neighbor_id) AS rank
  FROM cand JOIN embeddings a ON a.vec_id = cand.query_id
            JOIN embeddings b ON b.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM scored WHERE rank <= {k}
"""


@register("knn_lsh_ann", oracle=_lsh_oracle())
def knn_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH top-k -- now FULLY hash-checked: the
    banded bucketing is deterministic (seeded constant hyperplanes),
    so the DuckDB oracle replays the complete algorithm rather than
    settling for a rows-only check. Recall vs brute force additionally
    asserted in pytest."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return lsh_topk(emb, queries, k=5).orderBy("query_id", "rank")


def ann_certificate_facts(spark: SparkSession, emb: DataFrame,
                          found: DataFrame,
                          recall_floor_tenths: int) -> DataFrame:
    """Oracle-checkable audit of an engine-trained ANN result (the
    vec_id < 10 probe set, k = 5) against the exact brute-force top-5
    universe. Shared by `knn_ivf_ann` and `knn_pq_ann`.

    Facts, each anchored to an engine-independent scalar: the exact
    top-5 quantized-cosine sum (a hash-checked replay of the whole
    exact universe -- quantization half-up at 1e-6, selection by
    (cq DESC, id), so rank-boundary ties cannot flip the sum),
    recall@5 against that universe, output well-formedness (dense
    unique ranks, unique neighbors, no self-pairs), and that returned
    scores equal the exact re-ranked cosine. The exact side is linear
    in the corpus (|probe set| x n), so the audit holds its cost
    shape at any scale."""
    found = found.select("query_id", "neighbor_id", "cos_sim", "rank") \
        .localCheckpoint(eager=True)

    from ..functions.vectors import norm_side, quantized_cosine

    # shared certificate scaffold (functions/vectors.py). Residual
    # cross-engine risk of the sum fact below: a pair cosine landing
    # within an ulp of an exact x.5e-6 tie could quantize differently
    # per engine and shift the sum by 1. Unlike a threshold-count
    # fact there is no band to guard (every top-5 pair contributes),
    # but the exposure is ~|pairs| ulp-width events (~1e-10 each) vs
    # the threshold counts' ~1e-4 boundary exposure the guard bands
    # exist for -- and the fixture is fixed, with all three SFs
    # verified equal on both engines.
    va = norm_side(emb, "vec_id", "embedding", "id_a", "va", "na")
    vb = norm_side(emb, "vec_id", "embedding", "id_b", "vb", "nb")
    cq = quantized_cosine().alias("cq")

    from pyspark.sql import Window

    w = Window.partitionBy("id_a").orderBy(F.desc("cq"), F.asc("id_b"))
    top5 = (
        va.filter(F.col("id_a") < 10)
        .join(vb, F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", cq)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("id_a", "id_b", "cq")
        .localCheckpoint(eager=True)
    )

    shape = found.groupBy("query_id").agg(
        F.count("*").alias("n"),
        F.max("rank").alias("mxr"),
        F.countDistinct("rank").alias("dr"),
        F.countDistinct("neighbor_id").alias("dn"),
        F.sum(F.when(F.col("neighbor_id") == F.col("query_id"), 1)
              .otherwise(0)).alias("selfs"),
    )

    # returned scores must equal the exact re-ranked cosine (2e-6
    # tolerance absorbs the op's 6-decimal rounding vs the audit's
    # quantization). LEFT joins so a pair naming an id that does not
    # exist in the corpus -- or a zero-norm vector norm_side excludes
    # -- counts as a BAD score (NULL cq) instead of silently falling
    # out of the audit (the ADVICE-r8 membership-hole class); a NULL
    # cos_sim is likewise counted explicitly (ADVICE r9 -- the NULL
    # would otherwise null out the tolerance predicate and the row
    # would vanish from the count).
    found_scored = (
        found.select(F.col("query_id").alias("id_a"),
                     F.col("neighbor_id").alias("id_b"), "cos_sim")
        .join(va, "id_a", "left").join(vb, "id_b", "left")
        .select("cos_sim", cq)
    )

    # bounded driver state: scalar audit counts only, ONE action of
    # cross-joined one-row aggregates (the round-9 kernel layout --
    # round7.py's certificates and the SemDeDup audit use the same
    # shape; VERDICT r9 #5 ported it here). sum_cq coalesces to 0 on
    # an empty universe so the nullable fact can't NULL out, and
    # `exact_pairs_present` below makes a degenerate (empty probe set)
    # fixture FAIL rather than pass the recall floor vacuously.
    s = (
        emb.filter(F.col("vec_id") < 10)
        .agg(F.count(F.lit(1)).alias("n_queries"))
        .crossJoin(top5.agg(
            F.count(F.lit(1)).alias("n_top5"),
            F.coalesce(F.sum("cq"), F.lit(0)).alias("sum_cq")))
        .crossJoin(found.select(F.col("query_id").alias("id_a"),
                                F.col("neighbor_id").alias("id_b"))
                   .join(top5, ["id_a", "id_b"]).agg(
            F.count(F.lit(1)).alias("n_hit")))
        .crossJoin(shape.agg(
            F.sum(F.when(
                ~((F.col("n") <= 5) & (F.col("mxr") == F.col("n"))
                  & (F.col("dr") == F.col("n"))
                  & (F.col("dn") == F.col("n"))
                  & (F.col("selfs") == 0)), 1).otherwise(0))
            .alias("n_malformed")))
        .crossJoin(found_scored.agg(
            F.sum(F.when(
                F.col("cq").isNull() | F.col("cos_sim").isNull()
                | (F.abs(F.col("cos_sim") - F.col("cq") / 1e6) > 2e-6),
                1).otherwise(0)).alias("n_badscore")))
        .collect()[0]
    )
    n_queries = s["n_queries"]
    n_top5 = s["n_top5"]
    sum_cq = s["sum_cq"]
    n_hit = s["n_hit"]
    n_malformed = int(s["n_malformed"] or 0)
    n_badscore = int(s["n_badscore"] or 0)

    rows = [
        ("exact_pairs_present", n_queries, n_top5 > 0),
        ("exact_top5_cq_sum", sum_cq, True),
        ("output_wellformed", n_queries, n_malformed == 0),
        (f"recall_floor_0{recall_floor_tenths}0", n_top5,
         10 * n_hit >= recall_floor_tenths * n_top5),
        ("scores_exact_rerank", n_queries, n_badscore == 0),
    ]
    return local_frame(
        spark, rows, "item string, fact long, ok boolean").orderBy("item")


def _ann_certificate_oracle(recall_floor_tenths: int) -> str:
    """DuckDB side of `ann_certificate_facts`: replay the exact top-5
    universe (same quantization, same tiebreak) and assert the
    engine-side booleans TRUE."""
    return f"""
WITH e AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(floor(list_cosine_similarity(a.embedding::DOUBLE[],
                                           b.embedding::DOUBLE[])
                    * 1e6 + 0.5) AS BIGINT) AS cq
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 10
),
t5 AS (
  SELECT cq, row_number() OVER (PARTITION BY id_a
                                ORDER BY cq DESC, id_b) AS rn
  FROM p
),
f AS (
  SELECT CAST(coalesce(sum(cq), 0) AS BIGINT) AS sum_cq,
         CAST(count(*) AS BIGINT) AS n_top5,
         (SELECT CAST(count(*) AS BIGINT) FROM embeddings
          WHERE vec_id < 10) AS n_queries
  FROM t5 WHERE rn <= 5
)
SELECT 'exact_pairs_present' AS item, n_queries AS fact, TRUE AS ok FROM f
UNION ALL SELECT 'exact_top5_cq_sum', sum_cq, TRUE FROM f
UNION ALL SELECT 'output_wellformed', n_queries, TRUE FROM f
UNION ALL SELECT 'recall_floor_0{recall_floor_tenths}0', n_top5, TRUE FROM f
UNION ALL SELECT 'scores_exact_rerank', n_queries, TRUE FROM f
ORDER BY item
"""


@register("knn_ivf_ann", oracle=_ann_certificate_oracle(4))
def knn_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN audit over the UNLABELED corpus: the inverted lists
    come from the k-means coarse quantizer (spherical Lloyd's), not
    from any pre-existing label column -- the deployable configuration
    for real embedding tables. Now ORACLE-BACKED (VERDICT r7 #5) via
    `ann_certificate_facts`: exact top-5 universe replayed on both
    engines, recall@5 >= 0.4 (measured 0.52/0.52/0.56 at
    sf0.001/0.01/0.1), well-formed dense-ranked output, exact re-rank
    scores. `knn_ivf_ann_portable` hash-checks the identical
    probe/re-rank pipeline row-for-row with md5-init centroids; the
    neighbor surface stays available via `ivf_topk`."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    # Quantizer: bounded driver-side fit (the FAISS-style deployable
    # trainer -- a k x dim model converges from a ~10^5-vector hash
    # sample no matter the corpus size, so training never runs Spark
    # jobs per Lloyd's round); recall is governed by nprobe.
    found = ivf_topk(
        emb, queries, k=5, nprobe=2, n_lists=8, train="local",
    )
    return ann_certificate_facts(spark, emb, found, recall_floor_tenths=4)


def _ivf_portable_oracle(n_lists: int = 8, nprobe: int = 2, k: int = 5,
                         dim: int = 64) -> str:
    """Full DuckDB replica of `ivf_topk(train='portable')`: init-only
    centroids picked by (md5(id), id) order, unit-normalized, map-only
    argmax assignment (ties to the lowest centroid index), top-nprobe
    probing, exact cosine re-rank. Scores agree bit-exactly because
    both engines evaluate the same doubles with the same left-to-right
    accumulation and IEEE division."""
    rng = f"range(1, {dim + 1})"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
samp AS (
  SELECT vec_id, v,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
             - 1 AS j
  FROM e QUALIFY j < {n_lists}
),
cent AS (
  SELECT j, v AS cv,
         sqrt(list_sum([v[i] * v[i] for i in {rng}])) AS nrm
  FROM samp
),
assign AS (
  SELECT e.vec_id, c.j,
         list_sum([e.v[i] * (c.cv[i] / c.nrm) for i in {rng}]) AS score
  FROM e, cent c
),
best AS (
  SELECT vec_id, j AS clabel FROM (
    SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY score DESC, j) AS rn
    FROM assign
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id, j AS clabel FROM (
    SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY score DESC, j) AS rn
    FROM assign WHERE vec_id < 10
  ) WHERE rn <= {nprobe}
),
cand AS (
  SELECT DISTINCT p.vec_id AS query_id, n.vec_id AS neighbor_id
  FROM probes p JOIN best n ON p.clabel = n.clabel
  WHERE p.vec_id <> n.vec_id
),
scored AS (
  SELECT query_id, neighbor_id,
         round({_COS}, 6) AS cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round({_COS}, 6) DESC,
                                     neighbor_id) AS rank
  FROM cand JOIN embeddings a ON a.vec_id = cand.query_id
            JOIN embeddings b ON b.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM scored WHERE rank <= {k}
"""


@register("knn_ivf_ann_portable", oracle=_ivf_portable_oracle())
def knn_ivf_ann_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the engine-portable quantizer (md5-ordered init
    centroids, zero Lloyd's iterations) -- the hash-checked
    configuration: every stage of the IVF pipeline (assignment,
    nprobe probing, candidate join, exact re-rank) is independently
    replayed by the DuckDB oracle. `knn_ivf_ann` keeps the deployable
    real-k-means quantizer (rows-only + recall pytest); this entry
    proves the pipeline itself is exact."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(
        emb, queries, k=5, nprobe=2, n_lists=8, train="portable",
    ).orderBy("query_id", "rank")


@register("knn_pq_ann", oracle=_ann_certificate_oracle(3))
def knn_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN audit (Jegou et al. 2011): m=8
    subspace codebooks trained on a bounded driver-side sample (the
    FAISS-style split: training is a small-sample problem, search is
    the distributed part), ADC scoring over m-byte codes, exact
    re-rank of the top-48 candidates. Now ORACLE-BACKED (VERDICT r7
    #5) via `ann_certificate_facts`: exact top-5 universe replayed on
    both engines, recall@5 >= 0.3 (measured 0.74/0.72/0.36 at
    sf0.001/0.01/0.1 -- ADC precision drops as the corpus densifies
    at fixed refine=48), well-formed output, exact re-rank scores.
    `knn_pq_ann_portable` hash-checks the identical
    encode/ADC/re-rank pipeline row-for-row with md5-init codebooks;
    the neighbor surface stays available via `pq_topk`."""
    from ..operators.quantize import pq_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    found = pq_topk(
        emb, queries, k=5, m=8, ks=16, refine=48,
    )
    return ann_certificate_facts(spark, emb, found, recall_floor_tenths=3)


def _pq_portable_oracle(m: int = 8, ks: int = 16, dsub: int = 8,
                        refine: int = 48, k: int = 5) -> str:
    """Full DuckDB replica of `pq_topk(train='portable')`: md5-ordered
    init-only codebooks, argmax-dot-minus-half-norm encoding (ties to
    the lowest code), j-ordered ADC accumulation (list_sum over a
    j-sorted list mirrors Spark's left fold), top-``refine`` by
    (adc desc, id), exact cosine re-rank."""
    sub_rng = f"range(1, {dsub + 1})"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
samp AS (
  SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                               vec_id) - 1 AS c
  FROM e QUALIFY c < {ks}
),
cells AS (
  SELECT r.j, samp.c,
         [v[r.j * {dsub} + i] for i in {sub_rng}] AS cv
  FROM samp, range(0, {m}) r(j)
),
cellsn AS (
  SELECT j, c, cv,
         list_sum([cv[i] * cv[i] for i in {sub_rng}]) / 2.0 AS hn
  FROM cells
),
enc AS (
  SELECT vec_id, j, c FROM (
    SELECT e.vec_id, cn.j, cn.c,
           row_number() OVER (
             PARTITION BY e.vec_id, cn.j
             ORDER BY (list_sum([e.v[cn.j * {dsub} + i] * cn.cv[i]
                                 for i in {sub_rng}]) - cn.hn) DESC,
                      cn.c) AS rn
    FROM e, cellsn cn
  ) WHERE rn = 1
),
tab AS (
  SELECT e.vec_id AS query_id, cn.j, cn.c,
         list_sum([e.v[cn.j * {dsub} + i] * cn.cv[i]
                   for i in {sub_rng}]) AS d
  FROM e, cellsn cn WHERE e.vec_id < 10
),
adc AS (
  SELECT t.query_id, n.vec_id AS neighbor_id,
         list_sum(list(t.d ORDER BY t.j)) AS adc_score
  FROM enc n JOIN tab t ON n.j = t.j AND n.c = t.c
  WHERE t.query_id <> n.vec_id
  GROUP BY 1, 2
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_score DESC, neighbor_id) AS ar
    FROM adc
  ) WHERE ar <= {refine}
),
scored AS (
  SELECT query_id, neighbor_id,
         round({_COS}, 6) AS cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round({_COS}, 6) DESC,
                                     neighbor_id) AS rank
  FROM cand JOIN embeddings a ON a.vec_id = cand.query_id
            JOIN embeddings b ON b.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM scored WHERE rank <= {k}
"""


@register("knn_pq_ann_portable", oracle=_pq_portable_oracle())
def knn_pq_ann_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN with engine-portable init-only codebooks -- the
    hash-checked configuration: encoding, ADC scoring, candidate
    selection and exact re-rank are all independently replayed by the
    DuckDB oracle. `knn_pq_ann` keeps the deployable k-means-trained
    codebooks (rows-only + recall pytest); this entry proves the
    pipeline itself is exact."""
    from ..operators.quantize import pq_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return pq_topk(
        emb, queries, k=5, m=8, ks=16, refine=48, train="portable",
    ).orderBy("query_id", "rank")


_PQ_INDEX_EQ_ORACLE = """
SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_results,
       TRUE AS paths_agree
FROM embeddings WHERE vec_id < 10 ORDER BY vec_id
"""


@register("knn_pq_index_search", oracle=_PQ_INDEX_EQ_ORACLE)
def knn_pq_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The build-once/search-many PQ workflow with the deployable
    k-means codebooks: materialize the index (codes + codebooks as
    versioned tables), then answer the top-k from the persisted codes.

    The k-means neighbors are engine-specific, so (bounded-error
    oracle family) the query emits the INVARIANT the workflow
    guarantees instead of the neighbors: per query, the persisted-
    index path must return exactly the direct `pq_topk` answer (same
    training rule, so index round-trip is lossless) and exactly k
    rows. The oracle enumerates the query ids and asserts both facts,
    turning the former pytest-only equality into a value-hash check.
    The full neighbor lists are still hash-checked end to end by
    `knn_pq_index_portable`'s SQL-replica oracle."""
    from ..catalog import scratch_dir
    from ..operators.quantize import (
        build_pq_index,
        pq_codebooks_local,
        pq_search_index,
        pq_topk,
    )

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = scratch_dir("pq_index", sf_dir)
    # Train the deployable k-means codebooks ONCE and hand the model
    # to both paths (VERDICT r10 #4). The invariant this query states
    # is unchanged -- the persisted-index round-trip (publish -> code
    # scan -> ADC -> re-rank) must return exactly what the direct
    # in-plan path computes over the same model. Training is
    # deterministic (hash-ordered sample, fixed seed), so the shared
    # model IS what each path would have trained for itself; sharing
    # removes the duplicated bounded-sample collect, not any part of
    # either search path.
    books = pq_codebooks_local(emb, m=8, ks=16)
    build_pq_index(emb, idx, books=books)
    from_index = pq_search_index(spark, idx, queries, emb, k=5, refine=48)
    direct = pq_topk(emb, queries, k=5, m=8, ks=16, refine=48, books=books)
    cols = ["query_id", "neighbor_id", "rank"]
    both = from_index.select(*cols).withColumn("__side", F.lit(1)).unionByName(
        direct.select(*cols).withColumn("__side", F.lit(2))
    )
    return (
        both.groupBy("query_id")
        .agg(
            (F.sum(F.when(F.col("__side") == 1, 1).otherwise(0)))
            .alias("n_results"),
            # every (neighbor_id, rank) must appear on BOTH sides:
            # count of distinct pairs == count of pairs from one side,
            # and both sides the same size
            F.countDistinct("neighbor_id", "rank").alias("__n_pairs"),
            F.count("*").alias("__n_rows"),
        )
        .select(
            "query_id", "n_results",
            ((F.col("__n_rows") == 2 * F.col("__n_pairs"))
             & (F.col("__n_pairs") == F.col("n_results")))
            .alias("paths_agree"),
        )
        .orderBy("query_id")
    )


@register("knn_pq_index_portable", oracle=_pq_portable_oracle())
def knn_pq_index_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted build-once/search-many PQ path with the portable
    codebooks: build_pq_index(train='portable') materializes codes +
    cells as one versioned snapshot, pq_search_index answers from the
    persisted codes, and the SAME full SQL replica oracle as
    `knn_pq_ann_portable` hash-checks the result -- proving the
    publish -> code-scan -> ADC -> re-rank path returns exactly what
    the direct path computes (the index round-trip is lossless, as a
    value-hash fact rather than a pytest assertion)."""
    from ..catalog import scratch_dir
    from ..operators.quantize import build_pq_index, pq_search_index

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = scratch_dir("pq_index_portable", sf_dir)
    build_pq_index(emb, idx, train="portable")
    return pq_search_index(
        spark, idx, queries, emb, k=5, refine=48
    ).orderBy("query_id", "rank")


@register("similarity_join_brp_lsh")
def similarity_join_brp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH self-join (rows-only: bucket
    assignment is engine-specific; recall vs the exact cosine join is
    asserted in pytest)."""
    emb = load(spark, sf_dir, "embeddings")
    return brp_similarity_join(emb, threshold_cos=0.4).orderBy(
        "id_a", "id_b"
    )


_CENTROID_ORACLE = """
WITH exploded AS (
  SELECT vec_id AS vid, label AS true_label,
         generate_subscripts(embedding, 1) - 1 AS d,
         unnest(embedding::DOUBLE[]) AS x
  FROM embeddings
),
centroids AS (
  SELECT true_label AS clabel, d, avg(x) AS c FROM exploded GROUP BY 1, 2
),
cnorm AS (SELECT clabel, sqrt(sum(c * c)) AS c_norm FROM centroids GROUP BY 1),
vnorm AS (SELECT vid, sqrt(sum(x * x)) AS v_norm FROM exploded GROUP BY 1),
dots AS (
  SELECT e.vid, e.true_label, ct.clabel, sum(e.x * ct.c) AS dot
  FROM exploded e JOIN centroids ct ON e.d = ct.d
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT d.vid, d.true_label, d.clabel,
         d.dot / (cn.c_norm * vn.v_norm) AS cos_raw,
         row_number() OVER (PARTITION BY d.vid
                            ORDER BY d.dot / (cn.c_norm * vn.v_norm) DESC,
                                     d.clabel) AS rn
  FROM dots d JOIN cnorm cn ON d.clabel = cn.clabel
              JOIN vnorm vn ON d.vid = vn.vid
)
SELECT vid AS vec_id, true_label, clabel AS pred_label,
       round(cos_raw, 6) AS cos_sim
FROM scored WHERE rn = 1
"""


@register("similarity_centroid_classify", oracle=_CENTROID_ORACLE)
def similarity_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return centroid_classify(emb)


# ---------------------------------------------------------------------------
# Cross-modal profile: documents joined to their embedding rows
# (vec_id == doc_id in the fixtures) -- text-quality stats and vector
# norms per embedding label. The join is the multimodal pipeline's
# backbone shape: narrow text-derived features equi-joined to vector
# features on the document key, then rolled up.
# ---------------------------------------------------------------------------

_CROSSMODAL_ORACLE = f"""
WITH q AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n,
         len(list_filter(string_split(text, ' '), t -> t IN ({_SW_SQL})))
             / len(string_split(text, ' ')) AS sw,
         list_sum(list_transform(string_split(text, ' '),
                                 t -> CAST(len(t) AS DOUBLE)))
             / len(string_split(text, ' ')) AS alen
  FROM documents
),
scored AS (
  SELECT doc_id, lang,
         round(0.4 * least(n / 50.0, 1.0)
               + 0.3 * (1.0 - abs(sw - 0.10) / 0.9)
               + 0.3 * (1.0 - least(abs(alen - 5.0) / 5.0, 1.0)), 6) AS quality
  FROM q
),
e AS (
  SELECT vec_id, label,
         round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS l2
  FROM embeddings
)
SELECT e.label, count(*) AS n_docs,
       round(avg(s.quality), 4) AS avg_quality,
       round(avg(e.l2), 4)      AS avg_l2,
       round(min(e.l2), 6)      AS min_l2,
       round(max(e.l2), 6)      AS max_l2
FROM scored s JOIN e ON s.doc_id = e.vec_id
GROUP BY e.label
ORDER BY e.label
"""


@register("crossmodal_label_profile", oracle=_CROSSMODAL_ORACLE)
def crossmodal_label_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import quality_score

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.round(quality_score("text"), 6).alias("quality")
    )
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.round(F.sqrt(dot(as_double("embedding"), as_double("embedding"))), 6).alias("l2"),
    )
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
            F.round(F.avg("l2"), 4).alias("avg_l2"),
            F.round(F.min("l2"), 6).alias("min_l2"),
            F.round(F.max("l2"), 6).alias("max_l2"),
        )
        .orderBy("label")
    )
