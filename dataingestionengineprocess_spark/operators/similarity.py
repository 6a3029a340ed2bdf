"""Similarity search over embedding columns: brute-force cosine top-k
(exactness baseline) and LSH-bucketed approximate NN (scale path).

SURVEY.md §2.3 J8 [C]. Scale design:

- Brute force is a broadcast nested-loop: broadcast the (small) query
  set against the corpus scan, one pass, no shuffle of the corpus.
  Per-row cost = |queries| x dim fused multiply-adds, all codegen'd.
  Right answer for "few queries vs huge corpus"; wrong for self-join.
- Random-hyperplane LSH buckets both sides by a b-bit sign signature;
  only same-bucket candidates get exact cosine. Equi-join on the
  bucket key = one shuffle, bucket sizes ~ corpus/2^b keeps the
  quadratic term local. Recall is tunable with bands (repeat with
  independent plane sets) -- this is the 100 TB ANN shape.

Hyperplanes are deterministic (seeded hash of (table, plane, dim)),
so results are stable across runs and sessions -- required by the
driver's repeated-run checks and by any resume-after-failure at scale.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.vectors import as_double, cosine, dot, l2_norm
from .skew import spread_input
from ..session import cached, local_frame


def _plane(seed: str, plane_idx: int, dim: int) -> list[float]:
    """Deterministic pseudo-Gaussian hyperplane via hashed uniforms
    (sum of 4 hashed U(-1,1) values per coordinate, CLT-ish)."""
    coeffs = []
    for d in range(dim):
        acc = 0.0
        for r in range(4):
            h = hashlib.md5(f"{seed}:{plane_idx}:{d}:{r}".encode()).digest()[:8]
            (u,) = struct.unpack("<Q", h)
            acc += (u / 2**64) * 2.0 - 1.0
        coeffs.append(acc)
    return coeffs


def hyperplane_signature(vec: Column, dim: int, n_planes: int = 16,
                         seed: str = "engine-lsh") -> Column:
    """b-bit sign signature: bit p = 1 iff dot(vec, plane_p) > 0.
    Packed into a long -> single equi-join key."""
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(c) for c in _plane(seed, p, dim)])
        d = F.aggregate(
            F.zip_with(vec, plane, lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        sig = sig.bitwiseOR(
            F.when(d > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(0)
        )
    return sig


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k: broadcast queries x corpus scan.

    Returns (query_id, neighbor_id, cos_sim, rank), self-matches
    excluded, ties broken by neighbor id.
    """
    corpus = spread_input(corpus)
    # Norms precomputed ONCE per side: cosine() per pair re-folds both
    # operand norms, tripling the dominant aggregate-lambda work of
    # the probe x corpus scan. dot/(qn*cn) is the same fold/sqrt/
    # division order, so every emitted double is bit-identical.
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    ).withColumn("qn", l2_norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv")
    ).withColumn("cn", l2_norm(F.col("cv")))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim",
                    F.round(dot(F.col("qv"), F.col("cv"))
                            / (F.col("qn") * F.col("cn")), 6))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             dim: int = 64, n_planes: int = 8, n_bands: int = 8) -> DataFrame:
    """Approximate cosine top-k: candidates = union over bands of
    same-signature buckets; exact cosine only on candidates.

    Multiple independent plane sets (bands) trade compute for recall:
    for a neighbor at angle θ, one band matches with (1 - θ/π)^n_planes
    and recall = 1 - (1 - p)^n_bands -- 8x8 gives ~0.9 recall at
    cosine 0.9 with corpus/2^8-sized buckets.

    Plan shape: each side posexplodes its n_bands signatures into
    (band_idx, band_key) rows and the candidate generation is ONE
    broadcast equi-join on that composite key (the same banding move
    `dedup.minhash_neardup_pairs` makes) -- a union of per-band joins
    would re-scan the corpus signatures n_bands times.

    The whole n_bands x n_planes plane matrix rides in as ONE nested
    literal scored by a single transform lambda (the
    `_nearest_centroids` move): per-plane inline fold expressions
    each carrying their own 64-double array literal made the
    expression tree ~n_bands x n_planes larger for identical
    semantics (measured 9.3 s -> ~2 s at sf0.1). Bit-identical dots:
    same coefficients, same left-to-right fold, so the SQL replica
    oracle is unaffected.
    """
    corpus = spread_input(corpus)
    planes3d = [
        [_plane(f"band-{b}", p, dim) for p in range(n_planes)]
        for b in range(n_bands)
    ]

    def sig_rows(df: DataFrame, prefix: str) -> DataFrame:
        v = as_double(vec_col)

        def band_key(band_planes: Column) -> Column:
            # bit p of the key: sign of dot(v, plane_p); summing the
            # distinct powers of two equals the OR-pack
            contribs = F.zip_with(
                band_planes,
                F.sequence(F.lit(0), F.lit(n_planes - 1)),
                # shiftleft needs a literal bit count; 2^p via pow is
                # exact in double for p < 53 and casts back losslessly
                lambda pl, p: F.when(
                    dot(v, pl) > 0,
                    F.pow(F.lit(2.0), p).cast("long"),
                ).otherwise(F.lit(0).cast("long")),
            )
            return F.aggregate(
                contribs, F.lit(0).cast("long"), lambda a, x: a + x
            )

        sigs = F.transform(F.lit(planes3d), band_key)
        # norm precomputed once per vector (not once per candidate
        # pair): dot/(qn*cn) below is the same fold/sqrt/division as
        # cosine(), bit-identical, at a third of the per-pair work
        return df.select(
            F.col(id_col).alias(f"{prefix}_id"), v.alias(f"{prefix}v"),
            l2_norm(v).alias(f"{prefix}n"),
            F.posexplode(sigs).alias("band_idx", "band_key"),
        )

    q = sig_rows(queries, "query")
    c = sig_rows(corpus, "neighbor")

    candidates = (
        c.join(F.broadcast(q), ["band_idx", "band_key"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "queryv", "queryn",
                "neighbor_id", "neighborv", "neighborn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = candidates.withColumn(
        "cos_sim", F.round(dot(F.col("queryv"), F.col("neighborv"))
                           / (F.col("queryn") * F.col("neighborn")), 6)
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def lsh_knn_graph(corpus: DataFrame, k: int = 4,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  dim: int = 64, n_planes: int = 8,
                  n_bands: int = 8) -> DataFrame:
    """FULL approximate kNN graph: every corpus vector's top-k among
    its LSH band-mates -- the all-nodes layer-0 build behind the HNSW
    layer certificate (queries/knn.knn_hnsw_layer_portable) and
    the graph-ANN / graph-dedup preprocessing shape.

    Same banded candidates as `lsh_topk`, but the corpus is BOTH
    sides: one SHUFFLE equi-join on (band_idx, band_key) -- no
    broadcast of a query side, because the query side IS the data --
    then exact cosine re-rank and a per-node rank window (node id is
    a high-cardinality key, so the window distributes; this is not
    the small-universe funnel shape). Returns (node, neighbor,
    cos_sim, rank). Hot buckets are the skew risk at scale: AQE
    skew-join handles moderate cases, and a bucket-size cap before
    the self-join (the `minhash_neardup_pairs` ``max_bucket`` move)
    is the documented escape hatch for degenerate corpora."""
    corpus = spread_input(corpus)
    planes3d = [
        [_plane(f"band-{b}", p, dim) for p in range(n_planes)]
        for b in range(n_bands)
    ]
    v = as_double(vec_col)

    def band_key(band_planes: Column) -> Column:
        contribs = F.zip_with(
            band_planes,
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            lambda pl, p: F.when(
                dot(v, pl) > 0,
                F.pow(F.lit(2.0), p).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
        return F.aggregate(
            contribs, F.lit(0).cast("long"), lambda a, x: a + x
        )

    sigs = F.transform(F.lit(planes3d), band_key)
    # norm once per (vector, band) row instead of re-folded per
    # candidate pair -- same fold/sqrt/division as cosine(), so the
    # re-rank doubles are bit-identical at a third of the pair work
    rows = corpus.select(
        F.col(id_col).alias("node"), v.alias("nv"),
        l2_norm(v).alias("nvn"),
        F.posexplode(sigs).alias("band_idx", "band_key"),
    )
    other = rows.select(
        F.col("node").alias("neighbor"), F.col("nv").alias("ov"),
        F.col("nvn").alias("ovn"),
        "band_idx", "band_key",
    )
    candidates = (
        rows.join(other, ["band_idx", "band_key"])
        .filter(F.col("node") != F.col("neighbor"))
        .select("node", "nv", "nvn", "neighbor", "ov", "ovn")
        .dropDuplicates(["node", "neighbor"])
    )
    scored = candidates.withColumn(
        "cos_sim", F.round(dot(F.col("nv"), F.col("ov"))
                           / (F.col("nvn") * F.col("ovn")), 6)
    )
    w = W.partitionBy("node").orderBy(F.desc("cos_sim"), "neighbor")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("node", "neighbor", "cos_sim", "rank")
    )


#: Above this many coefficients (n_lists x dim) the centroid matrix
#: is not a plan literal: `F.lit` of a nested list issues one py4j
#: `lit` call per coefficient before constant folding collapses them.
#: Measured on a 4-core host with `semantic_dedup` at sf0.1 (dim 64,
#: portable init): building the plan costs about 0.37 ms more per
#: coefficient inline than as a broadcast row -- 64 centroids 2.5 s
#: against 1.0 s, 1000 centroids 24-31 s against 4-5 s -- for the same
#: action time. 512 keeps the 8-list x 64-dim quantizers of the
#: registered queries inline, where the gap is about 0.2 s.
_INLINE_CENTROID_BUDGET = 512


def _nearest_centroids(df: DataFrame, v: str, cents: list[list[float]],
                       n: int = 1) -> DataFrame:
    """``df`` with one row per (row, one of its ``n`` nearest
    centroids) and two more columns: ``__j``, the centroid's index
    (int), and ``__score``, dot(``v``, unit centroid j) --
    proportional to cosine, the |v| divisor being constant across
    centroids. Nearest means highest score, ties to the LOWEST index.
    The one assignment behind `ivf_topk`'s lists and
    `semantic_dedup`'s clusters.

    The centroids are L2-normalized on the driver into ONE
    array<array<double>> matrix, and a single two-arg ``transform``
    lambda scores every centroid: map-only, no shuffle, and an
    expression tree of constant size however large the matrix, where
    per-centroid inline expressions would build a multi-thousand-node
    plan. While n_centroids x dim fits `_INLINE_CENTROID_BUDGET` the
    matrix is a plan literal; past it, it is the one column of a
    one-row broadcast frame cross-joined onto ``df`` (each row still
    meets the matrix once, so nothing is shuffled or multiplied). Both
    paths score the same matrix with the same expression, so they
    assign identically."""
    import math

    units = []
    for c in cents:
        norm = math.sqrt(sum(x * x for x in c))
        units.append([x / norm for x in c] if norm > 0 else [0.0] * len(c))
    if len(cents) * len(cents[0]) <= _INLINE_CENTROID_BUDGET:
        matrix, scored = F.lit(units), df
    else:
        matrix, scored = F.col("__cu"), df.crossJoin(F.broadcast(local_frame(
            df.sparkSession, [(units,)], "__cu array<array<double>>")))
    # struct order -- score, then nl = -index -- sorts a tie on score
    # to the smaller index last, i.e. first once reversed
    structs = F.transform(
        matrix,
        lambda cu, i: F.struct(dot(F.col(v), cu).alias("score"),
                               (-i).alias("nl")),
    )
    top = F.slice(F.reverse(F.array_sort(structs)), 1, n)
    return scored.select(*df.columns, F.explode(top).alias("__s")).select(
        *df.columns,
        (-F.col("__s.nl")).cast("int").alias("__j"),
        F.col("__s.score").alias("__score"),
    )


def portable_init_sample(corpus: DataFrame, n: int, id_col: str,
                         vec_col: str) -> list[list[float]]:
    """The n corpus vectors with the smallest (md5(id-as-string), id),
    in that order -- the ENGINE-PORTABLE init rule shared by the
    'portable' IVF quantizer and PQ codebooks. One implementation (and
    one raise) so the rule can never drift between the operators and
    the DuckDB oracles that must reproduce it bit-exactly (hex strings
    order identically everywhere). Raises when the corpus is smaller
    than n, matching every other quantizer trainer."""
    rows = (
        corpus.select(F.col(id_col).alias("id"),
                      as_double(vec_col).alias("v"))
        .orderBy(F.md5(F.col("id").cast("string").cast("binary")), "id")
        .limit(n)
        .collect()
    )
    if len(rows) < n:
        raise ValueError(f"corpus has fewer than {n} vectors")
    return [list(r.v) for r in rows]


def sample_vectors_pandas(corpus: DataFrame, id_col: str, vec_col: str,
                          n_rows: int, seed: int):
    """Deterministic bounded training sample as a pandas frame
    (columns id, v): hash-ordered xxhash64(id, seed) top-n fetched as
    ONE Arrow batch via toPandas -- collect() spends more time
    building python Rows than a whole numpy Lloyd's fit. Shared by
    every local (driver-side) quantizer trainer so the sampling rule
    can never drift between them."""
    return (
        corpus.select(F.col(id_col).alias("id"),
                      as_double(vec_col).alias("v"))
        .orderBy(F.xxhash64("id", F.lit(seed)), "id")
        .limit(n_rows)
        .toPandas()
    )


#: Bounded-sample k-means fit (`kmeans_centroids_local`): Lloyd's
#: rounds, the sample's hash seed, and the sample size.
_KMEANS_ITERS = 10
_KMEANS_SEED = 42
_KMEANS_TRAIN_ROWS = 65536


def kmeans_centroids_local(corpus: DataFrame, n_clusters: int,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> list[list[float]]:
    """Coarse quantizer for IVF and SemDeDup: spherical (cosine)
    Lloyd's k-means fit on a bounded driver-side sample with
    vectorized numpy. Returns the n_clusters centroids in label order
    (centroid j is list j).

    This is the FAISS-style training split: the model is k x dim
    floats that converge from ~10^5 vectors no matter the corpus size,
    so training collects ONE deterministic hash-ordered sample (the
    smallest xxhash64(id, seed)) and iterates in milliseconds instead
    of one Spark job per Lloyd's step. At 100 TB the quantizer is
    trained on this bounded sample; assignment of the full corpus
    stays map-only in the caller (literal centroids). Init is the
    first n_clusters sample rows, so fits are deterministic across
    runs. Empty clusters keep their previous centroid (standard
    Lloyd's fallback).
    """
    import numpy as np

    pdf = sample_vectors_pandas(corpus, id_col, vec_col,
                                _KMEANS_TRAIN_ROWS, _KMEANS_SEED)
    if len(pdf) < n_clusters:
        raise ValueError(
            f"corpus has fewer than n_clusters={n_clusters} vectors"
        )
    x = np.array(pdf["v"].tolist())            # (n, dim)
    cents = x[:n_clusters].copy()
    for _ in range(_KMEANS_ITERS):
        units = cents / np.maximum(
            np.linalg.norm(cents, axis=1, keepdims=True), 1e-12
        )
        # argmax cosine, ties to the lowest centroid index (argmax
        # returns the first max, matching `_nearest_centroids`)
        assign = (x @ units.T).argmax(axis=1)
        for c in range(n_clusters):
            mask = assign == c
            if mask.any():
                cents[c] = x[mask].mean(axis=0)
    return [[float(v) for v in c] for c in cents]


def _fit_centroids(corpus: DataFrame, n: int, id_col: str, vec_col: str,
                   train: str) -> list[list[float]]:
    """The n coarse-quantizer centroids, in label order, from the
    trainer ``train`` names -- the one place `ivf_topk` and
    `semantic_dedup` resolve it:

    - ``"local"``: `kmeans_centroids_local`, the deployable fit;
    - ``"portable"``: `portable_init_sample`, zero Lloyd's iterations.
      Still a legitimate quantizer (k-means only improves list
      balance, not correctness), and one a DuckDB oracle replays
      bit-exactly, so the whole pipeline behind it is hash-checkable.

    Any other value raises: a misspelled mode must not silently train
    differently under an oracle-backed caller."""
    if train == "local":
        return kmeans_centroids_local(corpus, n, id_col, vec_col)
    if train == "portable":
        return portable_init_sample(corpus, n, id_col, vec_col)
    raise ValueError(
        f"unknown train mode {train!r}: expected 'local' or 'portable'"
    )


def _centroid_vectors(corpus: DataFrame, vec_col: str,
                      label_col: str) -> DataFrame:
    """(clabel, carr) centroid vectors as array<double>, built
    relationally from per-(label, dim) means. The label column stands
    in for any coarse clustering (k-means at scale); IVF only needs
    SOME partition of the space plus its centroids."""
    exploded = corpus.select(
        F.col(label_col).alias("clabel"),
        F.posexplode(as_double(vec_col)).alias("d", "x"),
    )
    return (
        exploded.groupBy("clabel", "d").agg(F.avg("x").alias("c"))
        .groupBy("clabel")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "c"))),
                lambda s: s["c"],
            ).alias("carr")
        )
    )


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             nprobe: int = 2, id_col: str = "vec_id",
             vec_col: str = "embedding",
             label_col: str | None = None,
             n_lists: int = 8, train: str = "local") -> DataFrame:
    """IVF-style approximate top-k: inverted-file partition by nearest
    centroid, search only the `nprobe` closest lists per query.

    The coarse quantizer: by default (``label_col=None``) the inverted
    lists come from ``n_lists`` centroids fit by the trainer ``train``
    names (`_fit_centroids`: ``"local"`` k-means or the ``"portable"``
    oracle-replayable init) -- real embedding corpora are unlabeled.
    Passing ``label_col`` instead derives one centroid per existing
    label value (useful when a clustering already exists or for
    exactness tests against a known partition).

    The 100 TB shape: centroids are tiny (broadcast everywhere),
    corpus vectors carry their list id as a partition key, and a query
    touches nprobe/n_lists of the data instead of all of it. Recall
    loss comes only from neighbors whose list the query didn't probe;
    raise nprobe to trade compute for recall. The local trainer fits a
    bounded hash-ordered sample, so the model and its driver state
    stay fixed-size however large the corpus grows.

    Assignment strategy (`_nearest_centroids`): when n_lists x dim
    fits the inline budget the centroids are embedded as plan literals
    and every vector learns its list (and every query its nprobe
    lists) in a MAP-ONLY expression -- the corpus is never shuffled or
    joined just to be partitioned, so the whole plan's only wide stage
    is the final per-query top-k. Past the budget (anything larger
    than 8 lists x 64 dims), the same matrix arrives as one broadcast
    row and assignment stays map-only.

    Returns (query_id, neighbor_id, cos_sim, rank).

    NOTE: like an MLlib ``fit``, CONSTRUCTING this plan trains the
    coarse quantizer (the training sample / centroid collect runs
    eagerly); only the probe/search half is lazy. Plan-only consumers
    should expect driver jobs at build time.
    """
    corpus = spread_input(corpus)
    spark = corpus.sparkSession
    if label_col is not None:
        cent = _centroid_vectors(corpus, vec_col, label_col)
        # (label value, vector) sorted by label -- index j stands in
        # for the label in tie-breaks (ascending label == ascending j).
        cent_rows = sorted(
            ((r["clabel"], list(r["carr"])) for r in cent.collect()),
            key=lambda t: t[0],
        )
        labels = [t[0] for t in cent_rows]
        cvecs = [t[1] for t in cent_rows]
        label_type = cent.schema["clabel"].dataType.simpleString()
    else:
        cvecs = _fit_centroids(corpus, n_lists, id_col, vec_col, train)
        labels, label_type = list(range(len(cvecs))), "int"
    if not cvecs:
        # empty corpus -> no lists -> no neighbors (schema-stable)
        return local_frame(
            spark, [],
            "query_id long, neighbor_id long, cos_sim double, rank long",
        )
    label_df = F.broadcast(local_frame(
        spark, list(enumerate(labels)), f"__j int, clabel {label_type}",
    ))

    def assign(df: DataFrame, prefix: str, n: int) -> DataFrame:
        """Top-n centroid labels per vector (ties -> lowest label)."""
        v = df.select(F.col(id_col).alias(f"{prefix}_id"),
                      as_double(vec_col).alias(f"{prefix}v"))
        return _nearest_centroids(v, f"{prefix}v", cvecs, n).join(
            label_df, "__j"
        ).select(f"{prefix}_id", f"{prefix}v", "clabel")

    inverted = assign(corpus, "neighbor", 1)      # each vector in ONE list
    probes = assign(queries, "query", nprobe)     # each query probes nprobe

    scored = (
        inverted.join(F.broadcast(probes), "clabel")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim", F.round(cosine(F.col("queryv"), F.col("neighborv")), 6)
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def vector_dim(df: DataFrame, vec_col: str = "embedding") -> int | None:
    """Length of the first non-null vector in ``vec_col`` (None when
    there is none): one small job over the scan, for operators whose
    plan needs the dimension on the driver."""
    row = df.where(F.col(vec_col).isNotNull()).select(
        F.size(vec_col).alias("d")).head()
    return None if row is None else int(row["d"])


def brp_similarity_join(corpus: DataFrame, threshold_cos: float = 0.4,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        bucket_length: float = 2.0,
                        num_hash_tables: int = 3,
                        seed: int = 42) -> DataFrame:
    """Approximate self-similarity join via MLlib's
    BucketedRandomProjectionLSH (SURVEY.md §2.3 J8's named primitive).

    Vectors are L2-normalized first, so Euclidean distance d and
    cosine c are interchangeable: d^2 = 2 - 2c, i.e. threshold
    cos >= t becomes dist <= sqrt(2 - 2t). `approxSimilarityJoin`
    equi-joins on LSH bucket keys (one shuffle per hash table) and
    verifies exact distance only within buckets -- the same
    bucket-join shape as our hand-rolled `lsh_topk`, but with MLlib's
    p-stable-projection hashing and multi-probe join machinery.

    Returns (id_a, id_b, cos_sim) with id_a < id_b, cos >= threshold;
    an empty corpus gives an empty frame of the same schema.

    Building the plan runs ONE job: the dimension probe on the raw
    scan. The dimension rides the ``features`` column as ML attribute
    metadata, so ``fit`` reads it from the schema instead of running
    its own ``head()`` over the spread + normalize.
    """
    import math

    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    dist_threshold = math.sqrt(max(0.0, 2.0 - 2.0 * threshold_cos))

    from ..functions.vectors import l2_normalize

    # An empty corpus has no dimension; any width gives the same empty
    # pair set, and the fit never reads the data.
    dim = vector_dim(corpus, vec_col) or 1
    # spread FIRST: a single-file parquet source arrives as ONE
    # partition, and the whole self-join map side (normalize, the
    # p-stable hash UDF, posexplode, the candidate-pair build against
    # the broadcast other side) would run on one core. The pair set is
    # partitioning-independent (content + seed hashing), so spreading
    # only changes the parallelism, never the result. No-op at real
    # scale where the scan already carries >= defaultParallelism
    # partitions.
    unit = (
        spread_input(corpus).select(
            F.col(id_col).alias("id"),
            l2_normalize(as_double(vec_col)).alias("__unit"),
        )
        # zero-norm vectors normalize to NULL/NaN elements -- drop them
        .filter(~F.exists("__unit", lambda x: x.isNull() | F.isnan(x)))
        .select("id", array_to_vector("__unit").alias(
            "features", metadata={"ml_attr": {"num_attrs": dim}}))
    )

    brp = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=bucket_length, numHashTables=num_hash_tables,
        seed=seed,
    )
    model = brp.fit(unit)
    joined = model.approxSimilarityJoin(
        unit, unit, dist_threshold, distCol="dist"
    )
    return (
        joined.select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            F.round(1.0 - F.col("dist") * F.col("dist") / 2.0, 6)
            .alias("cos_sim"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )


def centroid_classify(corpus: DataFrame, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      label_col: str = "label") -> DataFrame:
    """Nearest-centroid classification, fully relational:
    posexplode -> per-(label, dim) mean -> dot/norm via join-aggregate.

    This is the 'IVF coarse quantizer' building block: at 100 TB you'd
    use these centroids to partition the corpus for IVF-style ANN.
    Returns (vec_id, true_label, pred_label, cos_sim).
    """
    corpus = spread_input(corpus)
    exploded = corpus.select(
        F.col(id_col).alias("vid"), F.col(label_col).alias("true_label"),
        F.posexplode(as_double(vec_col)).alias("d", "x"),
    )
    centroids = exploded.groupBy("true_label", "d").agg(
        F.avg("x").alias("c")
    ).select(F.col("true_label").alias("clabel"), "d", "c")

    cnorm = centroids.groupBy("clabel").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("c_norm")
    )
    vnorm = exploded.groupBy("vid").agg(
        F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("v_norm")
    )
    dots = (
        exploded.join(F.broadcast(centroids), "d")
        .groupBy("vid", "true_label", "clabel")
        .agg(F.sum(F.col("x") * F.col("c")).alias("dot"))
    )
    scored = (
        dots.join(F.broadcast(cnorm), "clabel").join(vnorm, "vid")
        .withColumn("cos_sim", F.col("dot") / (F.col("c_norm") * F.col("v_norm")))
    )
    w = W.partitionBy("vid").orderBy(F.desc("cos_sim"), "clabel")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("vid").alias(id_col), "true_label",
            F.col("clabel").alias("pred_label"),
            F.round("cos_sim", 6).alias("cos_sim"),
        )
    )


def kmeans_portable_fit(corpus: DataFrame, n_clusters: int = 8,
                        iters: int = 2, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        scale: int = 1_000_000) -> DataFrame:
    """Distributed Lloyd's k-means whose every step is engine-portable
    and therefore hash-checkable against a SQL replica. It backs the
    `ml_kmeans_portable` certificate (every intermediate of a
    relational fit replayed in SQL); the ANN/SemDeDup quantizers train
    with `_fit_centroids` instead.

    Portability comes from two rules:
    - **Init** is the shared `portable_init_sample` order
      ((md5(id), id) — hex strings sort identically everywhere).
    - **Cluster means are integer-exact.** Each vector element is
      quantized ONCE to ``floor(x * scale + 0.5)`` as int64; the
      per-cluster per-dimension reduce is then a ``sum(long)`` —
      associative and order-independent, so the shuffle's reduction
      order (the thing that makes float k-means engine-specific)
      cannot perturb the result. The mean returns to doubles as
      ``(sum / n) / scale`` — the same two IEEE divisions in both
      engines.

    Assignment is squared-L2 argmin evaluated as an index-ordered
    fold (`zip_with` + left `aggregate`) against the centroid matrix
    inlined as ONE literal (no join, no shuffle: whole-stage codegen
    over the scan). Ties go to the lowest centroid index via
    `array_min` over (dist, idx) structs. Empty clusters keep their
    previous centroid (standard Lloyd's fallback).

    Scale: per iteration = one map-only assignment pass + one
    groupBy(clabel) whose shuffle payload is k x (dim+1) longs per
    map partition (map-side partial agg), and k x dim ints of driver
    state. Bound: the int64 dimension sums overflow past ~2^53/scale
    ≈ 9e9 unit-normed members per cluster at scale=1e6; for a bigger
    corpus fit on a bounded hash-ordered sample (as
    `kmeans_centroids_local` does) or lower `scale` — the quantizer
    does not need more than ~1e6 training points regardless of corpus
    size.

    Returns the fitted model long-form: (clabel, n, d, c) — cluster
    sizes from the LAST assignment and centroid element c at dimension
    d (0-based), both exactly reproducible by the DuckDB oracle.
    """
    vecs = corpus.select(
        F.col(id_col).alias("id"), as_double(vec_col).alias("v")
    ).withColumn(
        "q",
        F.transform(
            F.col("v"),
            lambda x: F.floor(x * scale + F.lit(0.5)).cast("long"),
        ),
    )
    with cached(vecs):
        # init from the SAME cached (id, v) projection -- the first
        # action below both materializes the cache and picks the seed
        # rows, so the raw corpus is scanned exactly once per fit
        centroids = portable_init_sample(vecs, n_clusters, "id", "v")
        dim = len(centroids[0])
        counts: dict[int, int] = {}
        for _ in range(iters):
            structs = F.transform(
                F.lit([[float(x) for x in c] for c in centroids]),
                lambda c, j: F.struct(
                    F.aggregate(
                        F.zip_with(F.col("v"), c,
                                   lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0), lambda acc, x: acc + x,
                    ).alias("dist"),
                    j.alias("idx"),
                ),
            )
            best = F.array_min(structs)["idx"]
            sums = (
                vecs.select(best.alias("clabel"), "q")
                .groupBy("clabel")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    *[F.sum(F.col("q")[i]).alias(f"s{i}")
                      for i in range(dim)],
                )
                .collect()
            )
            counts = {r["clabel"]: r["n"] for r in sums}
            updated = {
                r["clabel"]: [(r[f"s{i}"] / r["n"]) / scale
                              for i in range(dim)]
                for r in sums
            }
            centroids = [
                updated.get(j, centroids[j]) for j in range(n_clusters)
            ]

    spark = corpus.sparkSession
    rows = [
        (j, counts.get(j, 0), d, centroids[j][d])
        for j in range(n_clusters) for d in range(dim)
    ]
    return local_frame(
        spark, rows, "clabel int, n bigint, d int, c double"
    )
