"""Quantization-based embedding operators: semantic dedup (SemDeDup)
and product-quantization ANN (ADC + exact re-rank).

Both build on the same primitive the IVF path already proved out: a
quantizer fit on a bounded sample (`similarity._fit_centroids` for
SemDeDup, `_fit_books` here for PQ) whose centroids ride inside the
plan as literals, so assignment is a MAP-ONLY codegen expression --
the corpus is never shuffled just to learn its partition.

Published shapes, re-expressed Spark-first:

- **Semantic dedup** follows SemDeDup (Abbas et al., 2023,
  arXiv:2303.09540): k-means the embedding space, then prune
  near-duplicate *pairs only within a cluster*. The quadratic term is
  bounded to (n/k)^2 per cluster and clusters are independent -- the
  exact shape that let the paper run on LAION-scale corpora. The
  within-cluster greedy scan is inherently sequential per cluster, so
  it runs as `applyInPandas` (vectorized numpy inside, one Arrow batch
  per cluster) -- the sanctioned escape hatch for per-group imperative
  logic, not a row-at-a-time UDF.
- **Product quantization** follows Jegou et al., 2011 ("Product
  Quantization for Nearest Neighbor Search"): split the vector into
  ``m`` subspaces, learn a tiny codebook per subspace, store each
  vector as ``m`` small codes, and score queries against codes via an
  asymmetric distance table (ADC). The corpus side of a PQ search
  reads m bytes per vector instead of dim floats -- at 100 TB that is
  the difference between scanning 256 GB of codes and 25 TB of floats.
  A final exact re-rank over the top candidates restores ranking
  fidelity (standard ADC + re-rank).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType, DoubleType, IntegerType, LongType, StructField, StructType,
)

from ..functions.vectors import as_double, cosine, dot
from .skew import spread_input
from .similarity import (
    _centroid_score_structs,
    _fit_centroids,
    portable_init_sample,
    sample_vectors_pandas,
    vector_dim,
)
from ..session import checkpoint, local_frame

__all__ = [
    "semantic_dedup", "semantic_dedup_multi", "pq_topk",
    "pq_codebooks_local", "build_pq_index", "pq_search_index",
]


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup)
# ---------------------------------------------------------------------------

_SEMDEDUP_SCHEMA = StructType([
    StructField("vec_id", LongType()),
    StructField("clabel", IntegerType()),
    StructField("keep", BooleanType()),
    StructField("rep_id", LongType()),
    StructField("rep_sim", DoubleType()),
])

#: multi-threshold variant: one extra column naming the threshold
_SEMDEDUP_MULTI_SCHEMA = StructType(
    _SEMDEDUP_SCHEMA.fields + [StructField("threshold", DoubleType())])


def _prune_prep(pdf):
    """Threshold-independent half of the greedy kernel: sort into
    farthest-from-centroid-first order (ties by id) and build the
    unit-normalized cluster matrix. Shared so the multi-threshold
    kernel pays it ONCE per Arrow batch, not once per threshold."""
    import numpy as np

    pdf = pdf.sort_values(
        ["centroid_cos", "vec_id"], ascending=[True, True]
    ).reset_index(drop=True)
    mat = np.stack(pdf["v"].to_numpy())
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    return pdf, mat / norms[:, None]


def _greedy_prune(pdf, threshold: float):
    """Per-cluster greedy SemDeDup scan: farthest-from-centroid first
    (ties by id), drop when cosine to an already-kept clustermate
    reaches ``threshold``. Module-level so the single- and
    multi-threshold kernels run the IDENTICAL decision procedure --
    `semantic_dedup_multi`'s per-threshold slice is row-identical to
    `semantic_dedup(threshold=t)` by construction."""
    pdf, mat = _prune_prep(pdf)
    return _greedy_scan(pdf, mat, threshold)


def _greedy_scan(pdf, mat, threshold: float):
    """The per-threshold greedy loop over an already-sorted,
    already-normalized cluster matrix (see `_prune_prep`)."""
    import numpy as np
    import pandas as pd

    n = len(pdf)
    keep_idx: list[int] = []
    keep = np.ones(n, dtype=bool)
    rep_id = np.full(n, -1, dtype=np.int64)
    rep_sim = np.full(n, np.nan)
    for i in range(n):
        if keep_idx:
            sims = mat[keep_idx] @ mat[i]
            j = int(np.argmax(sims))
            if sims[j] >= threshold:
                keep[i] = False
                rep_id[i] = pdf["vec_id"].iloc[keep_idx[j]]
                rep_sim[i] = round(float(sims[j]), 6)
                continue
        keep_idx.append(i)
    return pd.DataFrame({
        "vec_id": pdf["vec_id"],
        "clabel": pdf["clabel"],
        "keep": keep,
        "rep_id": pd.array(
            [None if k else r for k, r in zip(keep, rep_id)],
            dtype="Int64",
        ),
        "rep_sim": [None if k else s for k, s in zip(keep, rep_sim)],
    })


def semantic_dedup(corpus: DataFrame, threshold: float = 0.9,
                   n_clusters: int = 8, id_col: str = "vec_id",
                   vec_col: str = "embedding", train: str = "local",
                   max_cluster: int | None = 200_000) -> DataFrame:
    """SemDeDup-style near-duplicate pruning over an embedding column.

    Returns one row per corpus vector:
    ``(vec_id, clabel, keep, rep_id, rep_sim)`` -- ``keep`` is False
    when the vector's cosine to an already-kept clustermate reaches
    ``threshold``; ``rep_id``/``rep_sim`` then name that kept
    representative (NULL for kept rows).

    Greedy order inside a cluster is *farthest-from-centroid first*
    (the SemDeDup paper's choice: among near-duplicates, keeping the
    outlier preserves more diversity than keeping the prototype), ties
    broken by id so the output is deterministic.

    Scale design:
    - The quantizer is the ``train`` fit `similarity._fit_centroids`
      resolves (``"local"`` k-means or the ``"portable"``
      oracle-replayable init), with literal centroids and map-only
      assignment -- no shuffle to cluster.
      ``n_clusters`` should grow with the corpus so the expected
      cluster size stays bounded (the paper uses ~n/10k clusters);
      the pairwise term is then k x (n/k)^2 = n^2/k, linear in n for
      k proportional to n.
    - The only wide stage is ONE groupBy(clabel) feeding
      `applyInPandas`; inside, the greedy scan is vectorized numpy
      (normalized matrix, one dot per kept-set extension).
    - Pair decisions never leave their cluster, so clusters process
      in parallel and independently -- no global state, no driver
      loop.
    - ``max_cluster`` bounds the memory of any one prune task: a
      cluster larger than it (degenerate corpora -- mass-duplicated
      boilerplate collapses into one cell) is salt-split
      deterministically (xxhash64 of the id) into ceil(size/cap)
      shards that prune independently. The documented tradeoff is
      recall ACROSS shards of the same oversized cluster; soundness
      (every drop has a kept rep at >= threshold) is unaffected. The
      split is visible in the output: sharded rows keep their clabel,
      so callers can count shards per cluster -- no silent behavior
      change.
    """
    assigned, group_keys = _semantic_assigned(
        corpus, n_clusters, id_col, vec_col, train, max_cluster)

    def prune(pdf):
        return _greedy_prune(pdf, threshold)

    return assigned.groupBy(*group_keys).applyInPandas(
        prune, _SEMDEDUP_SCHEMA
    )


def semantic_dedup_multi(corpus: DataFrame, thresholds,
                         n_clusters: int = 8, id_col: str = "vec_id",
                         vec_col: str = "embedding", train: str = "local",
                         max_cluster: int | None = 200_000) -> DataFrame:
    """`semantic_dedup` for SEVERAL thresholds in ONE pass: one
    quantizer fit, one corpus scan + assignment, one groupBy +
    applyInPandas shuffle -- the per-threshold greedy re-scan inside
    the kernel is vectorized numpy over an already-transferred,
    already-normalized cluster matrix, so k thresholds cost far less
    than k operator runs (VERDICT r8 #6: `dedup_semantic_embedding`
    audits a deployable 0.92 run AND a 0.45 audit run).

    Output adds a ``threshold`` column; each threshold's slice is
    row-identical to ``semantic_dedup(threshold=t)`` by construction
    (same `_greedy_prune` kernel on the same assignment)."""
    ts = [float(t) for t in thresholds]
    if not ts or len(set(ts)) != len(ts):
        raise ValueError("thresholds must be non-empty and distinct")
    assigned, group_keys = _semantic_assigned(
        corpus, n_clusters, id_col, vec_col, train, max_cluster)

    import pandas as pd

    def prune(pdf):
        prepped, mat = _prune_prep(pdf)  # once per batch, not per t
        frames = []
        for t in ts:
            f = _greedy_scan(prepped, mat, t)
            # pin the all-None object column to float64 so concat's
            # dtype inference is deterministic across thresholds
            f["rep_sim"] = f["rep_sim"].astype("float64")
            f["threshold"] = t
            frames.append(f)
        return pd.concat(frames, ignore_index=True)

    return assigned.groupBy(*group_keys).applyInPandas(
        prune, _SEMDEDUP_MULTI_SCHEMA
    )


def _semantic_assigned(corpus: DataFrame, n_clusters: int, id_col: str,
                       vec_col: str, train: str,
                       max_cluster: int | None):
    """Shared front half of `semantic_dedup` / `semantic_dedup_multi`:
    quantizer fit, map-only cluster assignment with the
    farthest-first ordering key, and the max_cluster salt-split.
    Returns ``(assigned, group_keys)``."""
    corpus = spread_input(corpus)
    cvecs = _fit_centroids(corpus, n_clusters, id_col, vec_col, train)
    best = F.array_max(_centroid_score_structs(as_double(vec_col), cvecs))
    assigned = corpus.select(
        F.col(id_col).cast("long").alias("vec_id"),
        as_double(vec_col).alias("v"),
        (-best["nl"]).cast("int").alias("clabel"),
        # score is dot(v, unit_centroid); dividing by |v| makes it the
        # true cosine used for the farthest-first ordering.
        (best["score"] / F.sqrt(dot(as_double(vec_col), as_double(vec_col))))
        .alias("centroid_cos"),
    )

    group_keys = ["clabel"]
    if max_cluster:
        # The sizing aggregate and the main pass both consume
        # `assigned` (a corpus scan + k-by-dim centroid scoring);
        # materialize it once so the scoring isn't paid twice --
        # the same localCheckpoint move the minhash banded-signature
        # subtree makes for its 3x-referenced plan.
        assigned = checkpoint(assigned)
        sizes = assigned.groupBy("clabel").agg(
            F.count(F.lit(1)).alias("__csize")
        )
        assigned = (
            assigned.join(F.broadcast(sizes), "clabel")
            .withColumn(
                "__shard",
                F.when(
                    F.col("__csize") > max_cluster,
                    F.pmod(
                        F.xxhash64("vec_id"),
                        F.ceil(F.col("__csize") / F.lit(max_cluster))
                        .cast("long"),
                    ),
                ).otherwise(F.lit(0)).cast("int"),
            )
            .drop("__csize")
        )
        group_keys = ["clabel", "__shard"]

    return assigned, group_keys


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------


def _cells_lit(books: list[list[list[float]]]) -> Column:
    """One literal for ALL m codebooks: m x ks cells, each the dsub
    centroid coordinates with |c|^2/2 appended. Keeping every
    subspace inside a single literal + nested lambdas is what keeps
    the generated code small: per-subspace copies of the expression
    tree made plans compile ~m x larger for identical semantics."""
    return F.lit([
        [list(c) + [sum(x * x for x in c) / 2.0] for c in bj]
        for bj in books
    ])


def _pq_codes(v: Column, cells: Column, m: int, dsub: int) -> Column:
    """array<int> of m codes for vector ``v``, map-only: code j =
    argmin_c L2(v_j, cell) via argmax of dot(v_j, c) - |c|^2/2 (the
    -|v_j|^2/2 term is constant across cells, so it cancels).
    UN-normalized scores -- PQ quantizes Euclidean cells, not
    directions like the spherical IVF quantizer."""

    def code_for(j: Column) -> Column:
        sub = F.slice(v, j * dsub + 1, dsub)
        scored = F.transform(
            F.element_at(cells, j + 1),
            lambda ch, i: F.struct(
                (dot(sub, F.slice(ch, 1, dsub)) - F.element_at(ch, -1))
                .alias("score"),
                (-i).alias("nl"),
            ),
        )
        return (-F.array_max(scored)["nl"]).cast("int")

    return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), code_for)


def _check_caller_books(books: list[list[list[float]]], m: int, ks: int,
                        corpus: DataFrame, vec_col: str) -> None:
    """Reject caller-trained codebooks that are not m x ks cells of
    dim / m doubles each: encoding uses the ``m`` argument while
    scoring and the persisted cells follow the books, so a mismatch
    would silently mis-score instead of failing. The vector dimension
    comes from one probe of the corpus (an empty corpus skips that
    part of the check)."""
    dsub = len(books[0][0]) if books and books[0] else 0
    dim = vector_dim(corpus, vec_col)
    ok = (dsub > 0 and len(books) == m
          and all(len(b) == ks and all(len(c) == dsub for c in b)
                  for b in books)
          and (dim is None or m * dsub == dim))
    if not ok:
        raise ValueError(
            f"books must be m={m} codebooks of ks={ks} cells, each of "
            f"dim/m doubles (vector dim {dim})"
        )


#: Bounded-sample codebook fit (`pq_codebooks_local`): Lloyd's rounds
#: per subspace, the sample's hash seed, and the sample size.
_PQ_ITERS = 10
_PQ_SEED = 7
_PQ_TRAIN_ROWS = 65536


def pq_codebooks_local(corpus: DataFrame, m: int = 8, ks: int = 16,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> list[list[list[float]]]:
    """Train the m per-subspace codebooks (ks centroids each) with L2
    Lloyd's iterations on a bounded driver-side sample (vectorized
    numpy). Returns ``codebooks[j][c] -> list[float]`` of length
    dim/m.

    This is the production shape for quantizer TRAINING, as distinct
    from search: codebooks have m x ks x dsub parameters (a few KB) and
    converge from ~10^5 vectors no matter how large the corpus is, so
    training is a bounded-sample problem -- one deterministic
    hash-ordered sample collect (the smallest xxhash64(id, seed)), then
    millisecond numpy iterations, instead of a Spark job per Lloyd's
    step. Init is the first ks sample rows; empty cells keep their
    previous centroid. Everything corpus-sized (encoding, ADC scoring,
    re-rank) stays distributed in `pq_topk`.
    """
    import numpy as np

    pdf = sample_vectors_pandas(corpus, id_col, vec_col,
                                _PQ_TRAIN_ROWS, _PQ_SEED)
    if len(pdf) < ks:
        raise ValueError(f"corpus has fewer than ks={ks} vectors")
    mat = np.array(pdf["v"].tolist())    # (n, dim)
    dim = mat.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    sub = mat.reshape(len(pdf), m, dsub)

    books: list[list[list[float]]] = []
    for j in range(m):
        x = sub[:, j, :]                      # (n, dsub)
        cents = x[:ks].copy()
        for _ in range(_PQ_ITERS):
            d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ks):
                mask = assign == c
                if mask.any():
                    cents[c] = x[mask].mean(axis=0)
        books.append([[float(v) for v in c] for c in cents])
    return books


def _fit_books(corpus: DataFrame, m: int, ks: int, id_col: str,
               vec_col: str, train: str) -> list[list[list[float]]]:
    """The m x ks PQ codebooks from the trainer ``train`` names -- the
    one place `pq_topk` and `build_pq_index` resolve it, so the direct
    and persisted search paths can never train differently:

    - ``"local"``: `pq_codebooks_local`, the deployable fit;
    - ``"portable"``: cell (j, c) = subspace-j segment of the corpus
      vector with the c-th smallest (md5(id-as-string), id)
      (`similarity.portable_init_sample`, the ONE init rule of every
      portable quantizer) -- zero Lloyd's iterations, reproducible in
      plain SQL, so the DuckDB oracle replays the whole PQ pipeline
      (encode, ADC, re-rank). k-means training only tightens the
      cells; it does not change the algorithm.

    Any other value raises: a misspelled mode must not silently train
    differently under an oracle-backed caller."""
    if train == "local":
        return pq_codebooks_local(corpus, m, ks, id_col, vec_col)
    if train != "portable":
        raise ValueError(
            f"unknown train mode {train!r}: expected 'local' or 'portable'"
        )
    sample = portable_init_sample(corpus, ks, id_col, vec_col)
    dim = len(sample[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [
        [v[j * dsub:(j + 1) * dsub] for v in sample]
        for j in range(m)
    ]


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
            m: int = 8, ks: int = 16, refine: int = 32,
            id_col: str = "vec_id", vec_col: str = "embedding",
            train: str = "local",
            books: list[list[list[float]]] | None = None) -> DataFrame:
    """PQ approximate top-k: encode the corpus as m codes, score
    queries by asymmetric-distance inner product, exact-re-rank the
    top ``refine`` candidates. Returns (query_id, neighbor_id,
    cos_sim, rank) -- cos_sim is EXACT for returned rows (re-rank).

    Plan shape (the 100 TB story):
    1. *Encode* -- map-only: codebooks are plan literals, each corpus
       vector becomes ``array<int>`` of m codes in codegen. On a real
       deployment the codes are written once (m bytes/vector) and all
       subsequent searches scan codes, never raw floats.
    2. *ADC score* -- each query precomputes its m x ks inner-product
       table against the codebook literal; the broadcast
       queries-x-codes join then scores a candidate with m table
       lookups (no dim-length math on the corpus side).
    3. *Re-rank* -- the per-query top-``refine`` by ADC join back to
       the corpus by id (equi join) for exact cosine; final top-k by
       true similarity. Approximation error only costs recall when a
       true neighbor falls outside the refine set.

    ``train`` names the codebook trainer (`_fit_books`: ``"local"``,
    the default, fits on a bounded driver-side sample; ``"portable"``
    is the oracle-replayable init). Like `ivf_topk`, CONSTRUCTING the
    plan trains the quantizer (eager driver work); the search half is
    lazy.

    ``books`` short-circuits training entirely: pass codebooks already
    trained on THIS corpus by the matching trainer (same m/ks/rule) so
    a caller running several PQ paths over one corpus (e.g. the
    build-index-then-compare-direct workflow) collects the training
    sample once instead of once per path. Training is deterministic
    (hash-ordered sample, fixed seed), so sharing the trained model
    yields bit-identical results to retraining -- the caller owns that
    contract, exactly as with ``corpus_index`` in the admission
    operator.
    """
    raw, corpus = corpus, spread_input(corpus)
    if books is None:
        books = _fit_books(corpus, m, ks, id_col, vec_col, train)
    else:
        # caller-trained model: skip the training collect, but never
        # silently accept a mis-shaped model
        _check_caller_books(books, m, ks, raw, vec_col)
    dsub = len(books[0][0])
    coded = corpus.select(
        F.col(id_col).cast("long").alias("neighbor_id"),
        _pq_codes(as_double(vec_col), _cells_lit(books), m, dsub)
        .alias("codes"),
    )
    return _pq_search(coded, books, corpus, queries, k=k, refine=refine,
                      id_col=id_col, vec_col=vec_col)


def _pq_search(coded: DataFrame, books: list[list[list[float]]],
               corpus: DataFrame, queries: DataFrame, k: int,
               refine: int, id_col: str, vec_col: str) -> DataFrame:
    """ADC score + exact re-rank over an already-encoded codes frame
    (shared by `pq_topk` and the persisted-index `pq_search_index`)."""
    m, ks, dsub = len(books), len(books[0]), len(books[0][0])

    # flat m*ks literal of codebook cells; tab[j*ks + c] = dot(q_j, cell)
    flat_cells = F.lit([books[j][c] for j in range(m) for c in range(ks)])
    q = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        as_double(vec_col).alias("qv"),
    ).withColumn(
        "tab",
        F.transform(
            flat_cells,
            lambda cell, i: dot(
                F.slice("qv", F.floor(i / ks).cast("int") * dsub + 1, dsub),
                cell,
            ),
        ),
    ).select("query_id", "tab")

    adc = (
        coded.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "adc_score",
            F.aggregate(
                F.transform(
                    "codes",
                    lambda c, j: F.element_at("tab", j * ks + c + 1),
                ),
                F.lit(0.0), lambda acc, x: acc + x,
            ),
        )
    )
    wa = W.partitionBy("query_id").orderBy(F.desc("adc_score"), "neighbor_id")
    cand = (
        adc.withColumn("ar", F.row_number().over(wa))
        .filter(F.col("ar") <= refine)
        .select("query_id", "neighbor_id")
    )

    qv = queries.select(F.col(id_col).cast("long").alias("query_id"),
                        as_double(vec_col).alias("qv"))
    cv = corpus.select(F.col(id_col).cast("long").alias("neighbor_id"),
                       as_double(vec_col).alias("cv"))
    exact = (
        F.broadcast(cand)
        .join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos_sim", F.round(cosine(F.col("qv"), F.col("cv")), 6))
    )
    wr = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        exact.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# Persisted PQ index: build once, search many
# ---------------------------------------------------------------------------


def build_pq_index(corpus: DataFrame, index_path: str, m: int = 8,
                   ks: int = 16, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   train: str = "local",
                   books: list[list[list[float]]] | None = None) -> dict:
    """Materialize a PQ index as ONE versioned table: ``code`` rows
    (one per corpus vector: id + m small codes) and ``cell`` rows (the
    m x ks codebook cells) share a snapshot under a ``kind``
    discriminator. This is the production split `pq_topk`'s docstring
    promises: the raw-float corpus is scanned ONCE at build time;
    every later search scans only the codes (m ints per vector) plus
    the few-KB codebook rows.

    Codes are meaningless without the exact codebooks that produced
    them, so both halves commit in the SAME snapshot -- a two-table
    layout could crash between publishes (or race a reader) into new
    codebooks paired with old codes, silently mis-scoring every
    search. One snapshot = rebuilds are atomic, in-flight searches
    keep their pinned version, and a crashed rebuild is invisible.
    Returns {version, n_vectors}.
    """
    raw, corpus = corpus, spread_input(corpus)
    from ..sinks.versioned import VersionedTable

    spark = corpus.sparkSession
    if books is None:
        books = _fit_books(corpus, m, ks, id_col, vec_col, train)
    else:
        # Caller-trained codebooks (same corpus, same m/ks/rule): the
        # build-then-compare workflows train ONCE and hand the model
        # to both the index build and the direct path -- one training
        # collect, bit-identical cells on both sides (training is
        # deterministic, so this equals retraining; see pq_topk).
        _check_caller_books(books, m, ks, raw, vec_col)
    dsub = len(books[0][0])
    coded = corpus.select(
        F.lit("code").alias("kind"),
        F.col(id_col).cast("long").alias("neighbor_id"),
        _pq_codes(as_double(vec_col), _cells_lit(books), m, dsub)
        .alias("codes"),
        F.lit(None).cast("int").alias("j"),
        F.lit(None).cast("int").alias("c"),
        F.lit(None).cast("array<double>").alias("cell"),
    )
    cells = local_frame(
        spark,
        [("cell", None, None, j, c, books[j][c])
         for j in range(m) for c in range(ks)],
        "kind string, neighbor_id long, codes array<int>, "
        "j int, c int, cell array<double>",
    )
    # n_vectors rides the publish as an observe() metric: a separate
    # post-publish count() would re-scan the snapshot on every build
    from pyspark.sql import Observation

    obs = Observation("pq_index_codes")
    payload = coded.unionByName(cells).observe(
        obs,
        F.sum(F.when(F.col("kind") == "code", 1).otherwise(0))
        .alias("n_codes"),
    )
    vt = VersionedTable(spark, index_path)
    v = vt.publish(payload)
    return {"version": v, "n_vectors": int(obs.get["n_codes"])}


def pq_search_index(spark, index_path: str, queries: DataFrame,
                    corpus: DataFrame, k: int = 5, refine: int = 48,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Search a persisted PQ index (`build_pq_index`): resolves ONE
    index snapshot, loads its codebook rows to the driver (m x ks
    cells, a few KB -- the index *model*), scans its code rows for ADC
    scoring, and re-ranks the survivors against ``corpus`` raw vectors
    by id. Codes and codebooks come from the same pinned snapshot, so
    a rebuild committing mid-search can never mix generations. The
    corpus argument exists ONLY for the final ``refine``-row exact
    join; the scan side of the search never touches it."""
    from ..sinks.versioned import VersionedTable

    snap = VersionedTable(spark, index_path).read()
    books_rows = snap.filter(F.col("kind") == "cell").collect()
    cells: dict[tuple[int, int], list[float]] = {
        (r.j, r.c): list(r.cell) for r in books_rows
    }
    m = 1 + max(j for j, _ in cells)
    ks = 1 + max(c for _, c in cells)
    books = [[cells[(j, c)] for c in range(ks)] for j in range(m)]
    coded = snap.filter(F.col("kind") == "code").select(
        "neighbor_id", "codes"
    )
    return _pq_search(coded, books, corpus, queries, k=k, refine=refine,
                      id_col=id_col, vec_col=vec_col)


def quantized_covariance(emb: DataFrame, id_col: str,
                         vec_col: str) -> DataFrame:
    """Exact int64-quantized covariance matrix of an array column:
    (i, j, cov_s) rows on the 1e-6 grid, identically reproducible in
    SQL (the `ml_pca_power_portable` oracle replays it term by term).

    Elements quantize ONCE to int64; per-dim means come from exact
    integer sums; the d^2-per-vector self-join is the standard X^T X
    accumulation with per-term floor(c_i * c_j * 1e6 + 0.5) reduces.
    Every input ROW is one observation (the self-join rides a per-row
    key, not ``id_col``), so duplicate ids -- uniform or not -- weight
    the mean and the covariance identically."""
    from ..functions.exact import q6, snap6

    # Each input ROW is one observation: the self-join pairs dims
    # WITHIN a row via a per-row key, so a duplicated id contributes
    # its multiplicity to the mean's n AND the pair count identically
    # (ADVICE r5: joining on id_col paired dims ACROSS duplicate-id
    # rows -- n_pair summed m_id^2 while the mean summed m_id, so any
    # non-uniform duplication skewed cov vs the mean normalization).
    # The key is materialized by an eager checkpoint BEFORE the
    # explode: in one select with a generator the non-deterministic
    # id evaluates per OUTPUT row (one key per (row, dim) -- the
    # self-join would match nothing but the diagonal), and the
    # checkpoint also pins one assignment for both self-join sides.
    keyed = checkpoint(
        emb.select(
            F.monotonically_increasing_id().alias("_obs"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
    )
    x = checkpoint(
        keyed.select(
            "_obs", F.posexplode(F.col("_v")).alias("i0", "val"),
        )
        .select(
            "_obs", (F.col("i0") + 1).alias("i"),
            q6(F.col("val")).alias("q"),
        )  # means + both self-join sides
    )
    # n comes from F.count over the SAME exploded rows as the sums
    # (per dimension for the mean, per (i, j) group for the final
    # divide) -- a duplicated id now shifts n and the sums together
    # instead of silently skewing the mean (ADVICE r4: countDistinct
    # here diverged from all-row sums under duplicate ids)
    mu = x.groupBy("i").agg(
        F.sum("q").cast("long").alias("sq"),
        F.count(F.lit(1)).cast("long").alias("n"))
    cx = (
        x.join(F.broadcast(mu), "i")
        .select(
            "_obs", "i",
            (F.col("q") / 1e6
             - (F.col("sq") / F.col("n").cast("double")) / 1e6).alias("c"),
        )
    )
    a = cx.alias("a")
    b = cx.alias("b")
    return (
        a.join(b, F.col("a._obs") == F.col("b._obs"))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.sum(q6(F.col("a.c") * F.col("b.c"))).cast("long")
             .alias("sum_q"),
             F.count(F.lit(1)).cast("long").alias("n_pair"))
        .select("i", "j",
                snap6(F.col("sum_q").cast("double") / 1e6
                      / F.col("n_pair"))
                .alias("cov_s"))
    )
