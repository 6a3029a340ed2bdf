"""Similarity-search surface (``knn_``, ``similarity_``, ``crossmodal_``) over ``embeddings``.

SURVEY.md §2.3 J8 [C]: brute-force cosine top-k (exact baseline,
DuckDB-oracled), LSH-bucketed ANN (scale path, rows-only -- recall is
asserted against brute force in pytest), IVF / PQ / HNSW-layer ANN
with `_portable` twins hash-checked by SQL replica oracles, and
relational nearest-centroid classification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, SparkSession, Window as W

from ..catalog import load
from ..functions.exact import q6
from ..functions.vectors import as_double, cosine, dot
from ..operators.similarity import (
    brp_similarity_join, brute_force_topk, centroid_classify, ivf_topk,
    lsh_topk,
)
from ..session import local_frame
from . import register
from .dedup import certificate_oracle_rows, pair_certificate_facts
from .text import _SW_SQL


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
    # the certificates in dedup.py and the SemDeDup audit use the same
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


_HARDNEG_ORACLE = f"""
SELECT query_id, query_label, neighbor_id, neighbor_label, cos_sim, rank
FROM (
  SELECT a.vec_id AS query_id, a.label AS query_label,
         b.vec_id AS neighbor_id, b.label AS neighbor_label,
         round({_COS}, 6) AS cos_sim,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY round({_COS}, 6) DESC, b.vec_id) AS rank
  FROM embeddings a
  JOIN embeddings b ON a.label <> b.label
  WHERE a.vec_id % 50 = 0
) WHERE rank <= 5
"""


# ``knn_hard_negatives``: contrastive-training negative mining --
# nearest neighbors restricted to a DIFFERENT label.
@register("knn_hard_negatives", oracle=_HARDNEG_ORACLE)
def knn_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        as_double("embedding").alias("q_emb"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        as_double("embedding").alias("c_emb"),
    )
    sim = F.round(cosine(F.col("q_emb"), F.col("c_emb")), 6)
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        corpus.join(
            F.broadcast(probes),
            F.col("neighbor_label") != F.col("query_label"),
        )
        .withColumn("cos_sim", sim)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "query_label", "neighbor_id", "neighbor_label",
                "cos_sim", "rank")
    )


_MRL_DIMS = (16, 32, 64)


_MRL_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 10
),
c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings),
sims AS (
  SELECT d.dim, qid, nid,
         CAST(floor(round(
           list_dot_product(qv[1:d.dim], cv[1:d.dim])
           / (sqrt(list_dot_product(qv[1:d.dim], qv[1:d.dim]))
              * sqrt(list_dot_product(cv[1:d.dim], cv[1:d.dim]))), 6)
           * 1e6 + 0.5) AS BIGINT) AS cosq
  FROM q JOIN c ON qid <> nid
  CROSS JOIN (SELECT unnest([{", ".join(str(d) for d in _MRL_DIMS)}])
              AS dim) d
),
ranked AS (
  SELECT dim, qid, nid,
         row_number() OVER (PARTITION BY dim, qid
                            ORDER BY cosq DESC, nid) AS rnk
  FROM sims
),
top5 AS (SELECT dim, qid, nid FROM ranked WHERE rnk <= 5),
full5 AS (SELECT qid, nid FROM top5 WHERE dim = {_MRL_DIMS[-1]}),
m AS (
  SELECT t.dim, t.qid,
         CAST(count(*) FILTER (WHERE f.nid IS NOT NULL) AS BIGINT) AS hits
  FROM top5 t
  LEFT JOIN full5 f ON f.qid = t.qid AND f.nid = t.nid
  GROUP BY t.dim, t.qid
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(count(*) AS BIGINT) AS n_queries,
       floor(sum(hits) / (5.0 * count(*)) * 1e6 + 0.5) / 1e6
         AS recall_at5_s
FROM m GROUP BY dim ORDER BY dim
"""


@register("knn_matryoshka_recall", oracle=_MRL_ORACLE)
def knn_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of dimension-truncated cosine top-5 vs the full-dim
    exact baseline, integer rank keys, distributed per-(dim, query)
    ranking."""
    from ..functions.vectors import as_double, dot, l2_norm
    from ..operators.ranking import grouped_rank

    emb = load(spark, sf_dir, "embeddings")
    # per-dim prefix norms computed ONCE per side (5 norms per vector)
    # instead of re-folded per pair by cosine() -- same fold/sqrt/
    # division order, so the q6 keys are bit-identical at a third of
    # the 10 x 2000 x 5 pair-scan work
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), as_double("embedding").alias("qv"),
        *[l2_norm(F.slice(as_double("embedding"), 1, d)).alias(f"qn{d}")
          for d in _MRL_DIMS])
    c = emb.select(
        F.col("vec_id").alias("nid"), as_double("embedding").alias("cv"),
        *[l2_norm(F.slice(as_double("embedding"), 1, d)).alias(f"cn{d}")
          for d in _MRL_DIMS])
    pairs = c.join(F.broadcast(q), F.col("qid") != F.col("nid"))
    frames = []
    for d in _MRL_DIMS:
        cos = (dot(F.slice("qv", 1, d), F.slice("cv", 1, d))
               / (F.col(f"qn{d}") * F.col(f"cn{d}")))
        frames.append(pairs.select(
            F.lit(d).cast("long").alias("dim"), "qid", "nid",
            F.floor(F.round(cos, 6) * 1e6 + 0.5).cast("long")
            .alias("cosq")))
    sims = frames[0]
    for fr in frames[1:]:
        sims = sims.unionByName(fr)
    # (dim, qid) universe is bounded by construction: len(_MRL_DIMS)
    # dims x the vec_id < 10 query filter -- skip the probe job.
    ranked = grouped_rank(
        sims.withColumn("negq", -F.col("cosq")),
        ["dim", "qid"], ["negq", "nid"], "rnk",
        known_group_count=len(_MRL_DIMS) * 10)
    top5 = ranked.filter(F.col("rnk") <= 5).select("dim", "qid", "nid")
    full5 = (top5.filter(F.col("dim") == _MRL_DIMS[-1])
             .select(F.col("qid").alias("fqid"),
                     F.col("nid").alias("fnid")))
    m = (
        top5.join(full5,
                  (F.col("qid") == F.col("fqid"))
                  & (F.col("nid") == F.col("fnid")),
                  "left")
        .groupBy("dim", "qid")
        .agg(F.count("fnid").cast("long").alias("hits"))
    )
    return (
        m.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            (F.floor(F.sum("hits") / (5.0 * F.count(F.lit(1)))
                     * 1e6 + 0.5) / 1e6).alias("recall_at5_s"),
        )
        .orderBy("dim")
    )


def _hnsw_oracle(m: int = 4, sample: int = 12) -> str:

    bands = _bands_sql()
    return f"""
WITH lv AS (
  SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS h,
         length(regexp_extract(md5(CAST(vec_id AS VARCHAR)), '^0*', 0))
           AS lvl
  FROM embeddings
),
samp AS (SELECT vec_id, lvl FROM lv ORDER BY h, vec_id LIMIT {sample}),
l1 AS (SELECT vec_id FROM lv WHERE lvl >= 1),
pops AS (
  SELECT CAST(1 AS BIGINT) AS layer,
         CAST((SELECT count(*) FROM l1) AS BIGINT) AS layer_pop
  UNION ALL
  SELECT CAST(0 AS BIGINT),
         CAST((SELECT count(*) FROM lv) AS BIGINT)
),
upcand AS (
  SELECT s.vec_id AS node, c.vec_id AS neighbor
  FROM (SELECT vec_id FROM samp WHERE lvl >= 1) s, l1 c
  WHERE s.vec_id <> c.vec_id
),
up AS (
  SELECT node, neighbor, round({_COS}, 6) AS sim_s,
         row_number() OVER (PARTITION BY node
                            ORDER BY round({_COS}, 6) DESC, neighbor)
           AS rnk
  FROM upcand JOIN embeddings a ON a.vec_id = upcand.node
              JOIN embeddings b ON b.vec_id = upcand.neighbor
),
sig AS (
  SELECT vec_id, {bands} AS bands
  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
),
qb AS (
  SELECT vec_id, u.b AS band_idx, u.k AS band_key FROM (
    SELECT vec_id,
           unnest([{{'b': i, 'k': bands[i]}} for i in range(1, 9)]) AS u
    FROM sig WHERE vec_id IN (SELECT vec_id FROM samp))
),
cb AS (
  SELECT vec_id, u.b AS band_idx, u.k AS band_key FROM (
    SELECT vec_id,
           unnest([{{'b': i, 'k': bands[i]}} for i in range(1, 9)]) AS u
    FROM sig)
),
cand AS (
  SELECT DISTINCT qb.vec_id AS node, cb.vec_id AS neighbor
  FROM qb JOIN cb ON qb.band_idx = cb.band_idx
                 AND qb.band_key = cb.band_key
  WHERE qb.vec_id <> cb.vec_id
),
l0 AS (
  SELECT node, neighbor, round({_COS}, 6) AS sim_s,
         row_number() OVER (PARTITION BY node
                            ORDER BY round({_COS}, 6) DESC, neighbor)
           AS rnk
  FROM cand JOIN embeddings a ON a.vec_id = cand.node
            JOIN embeddings b ON b.vec_id = cand.neighbor
)
SELECT u.layer, u.node, CAST(u.rnk AS BIGINT) AS rank, u.neighbor,
       u.sim_s, pops.layer_pop
FROM (SELECT CAST(1 AS BIGINT) AS layer, node, neighbor, sim_s, rnk
      FROM up WHERE rnk <= {m}
      UNION ALL
      SELECT CAST(0 AS BIGINT), node, neighbor, sim_s, rnk
      FROM l0 WHERE rnk <= {m}) u
JOIN pops ON pops.layer = u.layer
ORDER BY u.layer, u.node, u.rnk
"""


@register("knn_hnsw_layer_portable", oracle=_hnsw_oracle())
def knn_hnsw_layer_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW layer construction, hash-checked edge by edge: geometric
    md5 levels (P(lvl >= L) = 16^-L -- the hex leading-zero count),
    layer 1 = exact cosine top-4 among layer-1 members (the upper
    layer is a 1/16 sample, so exact kNN there is cheap), layer 0 =
    `lsh_topk`'s banded-bucket candidates + exact re-rank (the scale
    path -- candidates never leave their buckets). Output: both
    layers' adjacency for the md5-first 12 nodes + layer populations.

    A deployment builds the FULL layer-0 graph with
    `operators/similarity.lsh_knn_graph` (corpus on BOTH sides of the
    band equi-join -- one shuffle, no query-side broadcast); the
    12-node sample keeps this certificate's output bounded while
    exercising the identical bucket + re-rank construction.
    Greedy-insert HNSW is inherently sequential; the batch
    layered-kNN build is the standard distributed form, and search
    quality rests on the same layer graphs this query pins. Planted
    near-dup recall of the full-graph build is asserted in pytest
    (`test_hnsw_full_layer0_graph_recall_planted`)."""
    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", "embedding",
        F.md5(F.col("vec_id").cast("string")).alias("h"),
    ).withColumn(
        "lvl", F.length(F.regexp_extract("h", "^0*", 0)))
    samp = (base.orderBy("h", "vec_id").limit(12)
            .localCheckpoint(eager=True))  # feeds both layers + counts
    l1 = base.where(F.col("lvl") >= 1).select("vec_id", "embedding")

    pops = base.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum((F.col("lvl") >= 1).cast("long")).cast("long").alias("n1"),
    ).collect()[0]  # two ints: bounded model state

    from ..operators.similarity import brute_force_topk, lsh_topk

    up = brute_force_topk(
        l1, samp.where(F.col("lvl") >= 1).select("vec_id", "embedding"),
        k=4)
    l0 = lsh_topk(base.select("vec_id", "embedding"),
                  samp.select("vec_id", "embedding"), k=4)

    def shape(df: DataFrame, layer: int, pop: int) -> DataFrame:
        return df.select(
            F.lit(layer).cast("long").alias("layer"),
            F.col("query_id").alias("node"),
            F.col("rank").cast("long").alias("rank"),
            F.col("neighbor_id").alias("neighbor"),
            F.col("cos_sim").alias("sim_s"),
            F.lit(pop).cast("long").alias("layer_pop"),
        )

    return (shape(up, 1, pops["n1"])
            .unionByName(shape(l0, 0, pops["n0"]))
            .orderBy("layer", "node", "rank"))


_MMR_NQ = 3    # queries: vec_id in (0, 1, 2)


_MMR_POOL = 8


_MMR_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {_MMR_NQ}
),
c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings),
rel AS (
  SELECT qid, nid,
         CAST(floor(list_dot_product(qv, cv)
              / (sqrt(list_dot_product(qv, qv))
                 * sqrt(list_dot_product(cv, cv))) * 1e6 + 0.5)
           AS BIGINT) AS rel_q
  FROM q JOIN c ON nid <> qid
),
pool AS (
  SELECT qid, nid, rel_q FROM (
    SELECT qid, nid, rel_q,
           row_number() OVER (PARTITION BY qid
                              ORDER BY rel_q DESC, nid) AS rn
    FROM rel
  ) WHERE rn <= {_MMR_POOL}
),
sims AS (
  SELECT a.qid, a.nid AS na, b.nid AS nb,
         CAST(floor(list_dot_product(ea.embedding::DOUBLE[],
                                     eb.embedding::DOUBLE[])
              / (sqrt(list_dot_product(ea.embedding::DOUBLE[],
                                       ea.embedding::DOUBLE[]))
                 * sqrt(list_dot_product(eb.embedding::DOUBLE[],
                                         eb.embedding::DOUBLE[])))
              * 1e6 + 0.5) AS BIGINT) AS sim_q
  FROM pool a
  JOIN pool b ON b.qid = a.qid AND b.nid <> a.nid
  JOIN embeddings ea ON ea.vec_id = a.nid
  JOIN embeddings eb ON eb.vec_id = b.nid
),
s1 AS (
  SELECT p.qid, min(p.nid) AS nid, max(p.rel_q * 7) AS obj
  FROM pool p
  JOIN (SELECT qid, max(rel_q) AS mx FROM pool GROUP BY qid) m
    ON m.qid = p.qid AND p.rel_q = m.mx
  GROUP BY p.qid
),
o2 AS (
  SELECT p.qid, p.nid, 7 * p.rel_q - 3 * s.sim_q AS obj
  FROM pool p
  JOIN s1 ON s1.qid = p.qid AND p.nid <> s1.nid
  JOIN sims s ON s.qid = p.qid AND s.na = p.nid AND s.nb = s1.nid
),
s2 AS (
  SELECT o.qid, min(o.nid) AS nid, max(o.obj) AS obj
  FROM o2 o
  JOIN (SELECT qid, max(obj) AS mx FROM o2 GROUP BY qid) m
    ON m.qid = o.qid AND o.obj = m.mx
  GROUP BY o.qid
),
o3 AS (
  SELECT p.qid, p.nid,
         7 * p.rel_q - 3 * greatest(sa.sim_q, sb.sim_q) AS obj
  FROM pool p
  JOIN s1 ON s1.qid = p.qid AND p.nid <> s1.nid
  JOIN s2 ON s2.qid = p.qid AND p.nid <> s2.nid
  JOIN sims sa ON sa.qid = p.qid AND sa.na = p.nid AND sa.nb = s1.nid
  JOIN sims sb ON sb.qid = p.qid AND sb.na = p.nid AND sb.nb = s2.nid
),
s3 AS (
  SELECT o.qid, min(o.nid) AS nid, max(o.obj) AS obj
  FROM o3 o
  JOIN (SELECT qid, max(obj) AS mx FROM o3 GROUP BY qid) m
    ON m.qid = o.qid AND o.obj = m.mx
  GROUP BY o.qid
)
SELECT qid, CAST(step AS BIGINT) AS step, nid, obj / 1e7 AS obj_s
FROM (SELECT qid, 1 AS step, nid, obj FROM s1
      UNION ALL SELECT qid, 2, nid, obj FROM s2
      UNION ALL SELECT qid, 3, nid, obj FROM s3)
ORDER BY qid, step
"""


@register("knn_mmr_diversify", oracle=_MMR_ORACLE)
def knn_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR top-3 (lambda = 0.7) over exact top-8 cosine pools, greedy
    steps unrolled as integer argmax joins."""
    from ..functions.vectors import as_double, dot, l2_norm
    from ..operators.ranking import grouped_rank

    emb = load(spark, sf_dir, "embeddings")
    # norms once per vector, reused by the relevance scan AND both
    # sides of the pool-pair similarity scan below (cosine() would
    # re-fold them per pair; dot/(n*n) is the same fold/sqrt/division,
    # bit-identical q6 values)
    vecs = emb.select("vec_id", as_double("embedding").alias("v")) \
        .withColumn("n", l2_norm(F.col("v")))
    qv = vecs.where(F.col("vec_id") < _MMR_NQ).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
        F.col("n").alias("qn"))
    rel = (
        vecs.crossJoin(F.broadcast(qv))
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nid"),
                q6(dot("qv", "v") / (F.col("qn") * F.col("n")))
                .alias("rel_q"))
        .withColumn("nrel", -F.col("rel_q"))
    )
    pool = (
        grouped_rank(rel, ["qid"], ["nrel", "nid"], "rn",
                     known_group_count=_MMR_NQ)
        .where(F.col("rn") <= _MMR_POOL)
        .select("qid", "nid", "rel_q")
        .localCheckpoint(eager=True)  # feeds sims + all three steps
    )
    pv = vecs.select(F.col("vec_id").alias("pvid"), F.col("v"), F.col("n"))
    pa = pool.join(pv, pool["nid"] == F.col("pvid")) \
        .select("qid", F.col("nid").alias("na"), F.col("v").alias("va"),
                F.col("n").alias("nna"))
    pb = pool.join(pv, pool["nid"] == F.col("pvid")) \
        .select(F.col("qid").alias("qb"), F.col("nid").alias("nb"),
                F.col("v").alias("vb"), F.col("n").alias("nnb"))
    sims = (
        pa.join(pb, (F.col("qb") == F.col("qid"))
                & (F.col("nb") != F.col("na")))
        .select("qid", "na", "nb",
                q6(dot("va", "vb") / (F.col("nna") * F.col("nnb")))
                .alias("sim_q"))
        .localCheckpoint(eager=True)  # reused by steps 2 and 3
    )

    def argmax(objs: DataFrame) -> DataFrame:
        """Deterministic per-qid argmax: max obj, tie -> min nid."""
        mx = objs.groupBy("qid").agg(F.max("obj").alias("mx"))
        return (
            objs.join(F.broadcast(mx), "qid")
            .where(F.col("obj") == F.col("mx"))
            .groupBy("qid")
            .agg(F.min("nid").alias("nid"), F.max("obj").alias("obj"))
        )

    s1 = argmax(pool.select("qid", "nid",
                            (F.col("rel_q") * 7).alias("obj")))
    s1k = s1.select("qid", F.col("nid").alias("s1_nid"))
    o2 = (
        pool.join(F.broadcast(s1k), "qid")
        .where(F.col("nid") != F.col("s1_nid"))
        .join(sims, (sims["qid"] == pool["qid"])
              & (sims["na"] == pool["nid"])
              & (sims["nb"] == F.col("s1_nid")))
        .select(pool["qid"], pool["nid"],
                (7 * F.col("rel_q") - 3 * F.col("sim_q")).alias("obj"))
    )
    s2 = argmax(o2)
    s2k = s2.select("qid", F.col("nid").alias("s2_nid"))
    sa = sims.select("qid", "na", "nb", F.col("sim_q").alias("sim_a"))
    sb = sims.select(F.col("qid").alias("q2"), F.col("na").alias("na2"),
                     F.col("nb").alias("nb2"),
                     F.col("sim_q").alias("sim_b"))
    o3 = (
        pool.join(F.broadcast(s1k), "qid")
        .join(F.broadcast(s2k), "qid")
        .where((F.col("nid") != F.col("s1_nid"))
               & (F.col("nid") != F.col("s2_nid")))
        .join(sa, (sa["qid"] == pool["qid"]) & (sa["na"] == pool["nid"])
              & (sa["nb"] == F.col("s1_nid")))
        .join(sb, (F.col("q2") == pool["qid"])
              & (F.col("na2") == pool["nid"])
              & (F.col("nb2") == F.col("s2_nid")))
        .select(pool["qid"], pool["nid"],
                (7 * F.col("rel_q")
                 - 3 * F.greatest("sim_a", "sim_b")).alias("obj"))
    )
    s3 = argmax(o3)
    out = (
        s1.select("qid", F.lit(1).alias("step"), "nid", "obj")
        .unionByName(s2.select("qid", F.lit(2).alias("step"), "nid", "obj"))
        .unionByName(s3.select("qid", F.lit(3).alias("step"), "nid", "obj"))
    )
    return out.select("qid", F.col("step").cast("long").alias("step"),
                      "nid", (F.col("obj") / 1e7).alias("obj_s")) \
        .orderBy("qid", "step")


#: the BRP recall audit stratum, ``id_a % _BRP_AUDIT_MOD == 0`` on both
#: engines (the oracle below interpolates it)
_BRP_AUDIT_MOD = 5


_BRP_CERT_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(floor(list_cosine_similarity(a.embedding::DOUBLE[],
                                           b.embedding::DOUBLE[])
                    * 1e6 + 0.5) AS BIGINT) AS cq
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE a.vec_id % {_BRP_AUDIT_MOD} = 0
),
ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM p
       WHERE cq >= 400100)
{certificate_oracle_rows("exact_pairs_present", 8,
                         "sound_no_false_positives")}"""


@register("similarity_brp_lsh_certificate", oracle=_BRP_CERT_ORACLE)
def similarity_brp_lsh_certificate(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Audit the MLlib BucketedRandomProjectionLSH self-join:
    canonical/unique output, zero found pairs below the 0.3999 noise
    guard (exact cosine recomputed per found pair), >=80% recall of
    the exact cq>=400100 core pairs on the id_a % 5 == 0 audit
    stratum (the [400000, 400100) band is excluded from the recall
    denominator on both engines -- threshold-tie guard)."""
    from ..operators.similarity import brp_similarity_join

    from ..functions.vectors import norm_side, quantized_cosine

    from ..operators.skew import spread_input

    emb = load(spark, sf_dir, "embeddings")
    # shared certificate scaffold (functions/vectors.py): norms
    # precomputed once per vector, zero-norm vectors excluded on BOTH
    # engines (the dot-product prefilter in the oracle --
    # brp_similarity_join itself drops them too), q6 half-up cosine.
    # BOTH sides spread first: a single-file parquet source arrives as
    # ONE partition and would serialize the (n/5) x n stratum cosine
    # scan onto one core (VERDICT r8 #6, the round-9 kernel layout).
    spread = spread_input(emb)
    va = norm_side(spread, "vec_id", "embedding", "id_a", "va", "na")
    vb = norm_side(spread, "vec_id", "embedding", "id_b", "vb", "nb")
    cq = quantized_cosine().alias("cq")
    # exact side: only the audit stratum ever joins (filter pushed
    # below the pair join -- 1/5 of the all-pairs work)
    exact = (
        va.filter(F.col("id_a") % _BRP_AUDIT_MOD == 0)
        .join(vb, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cq)
        .filter(F.col("cq") >= 400100)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    approx = brp_similarity_join(emb, threshold_cos=0.4).select(
        "id_a", "id_b")

    def n_stray(found: DataFrame) -> DataFrame:
        # exact cosine for the FOUND pairs only (lookup join). LEFT
        # joins so a pair naming an id absent from the corpus or a
        # zero-norm vector counts as a STRAY (NULL cq) instead of
        # vanishing from the audit (brp_similarity_join drops
        # zero-norm vectors itself, so on well-formed output nothing
        # is NULL -- the left join guards a regressed operator, the
        # ADVICE-r8 class).
        return (
            found.join(va, "id_a", "left").join(vb, "id_b", "left")
            .select(cq)
            .agg(F.sum(F.when(F.col("cq").isNull()
                              | (F.col("cq") < 399900), 1).otherwise(0)))
        )

    return pair_certificate_facts(
        spark, exact, approx, "exact_pairs_present", 8,
        "sound_no_false_positives", n_stray)
