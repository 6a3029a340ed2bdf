"""Semantic invariants for the curation surface (parity with the
DuckDB oracles is covered by test_oracle_parity; these pin the
properties the oracles can't express)."""

from __future__ import annotations

import duckdb

from dataingestionengineprocess_spark.queries import all_queries

SF = "/root/testdata/sf0.001"


def _doc_counts():
    return duckdb.sql(
        f"SELECT count(*) AS n, count(DISTINCT source) AS s "
        f"FROM read_parquet('{SF}/documents.parquet')"
    ).fetchone()


def test_packing_partitions_every_doc(spark):
    rows = all_queries()["curation_sequence_packing"](spark, SF).collect()
    n_docs, n_sources = _doc_counts()
    assert sum(r.n_docs for r in rows) == n_docs
    # pack ids per source are contiguous from 0 (no budget gap can be
    # skipped: a doc starting past a boundary fills the earlier pack).
    by_src: dict[str, list[int]] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r.pack_id)
    assert len(by_src) == n_sources
    for ids in by_src.values():
        assert sorted(ids) == list(range(len(ids)))


def test_decontaminate_excludes_benchmark_docs(spark):
    rows = all_queries()["curation_decontaminate"](spark, SF).collect()
    assert rows, "fixture vocab is small; overlap must exist"
    assert all(r.doc_id % 11 != 0 for r in rows)
    assert all(r.n_hits >= 1 for r in rows)


def test_pii_redaction_counts_and_scrubs(spark):
    df = all_queries()["curation_pii_redaction"](spark, SF)
    rows = df.collect()
    n_docs, _ = _doc_counts()
    assert len(rows) == n_docs
    # every doc got exactly the one synthetic email + one IP appended
    assert all(r.n_emails == 1 for r in rows)
    assert all(r.n_ips == 1 for r in rows)
    assert all(r.clean_len > 0 for r in rows)


def test_domain_mix_rates_and_budgets(spark):
    rows = all_queries()["curation_domain_mix"](spark, SF).collect()
    _, n_sources = _doc_counts()
    assert len(rows) == n_sources
    for r in rows:
        assert 0.0 < r.rate <= 1.0
        assert 0 <= r.kept_tokens <= r.src_tokens
    # uniform fixture sources -> mean tokens ~= every source's tokens,
    # so every rate is ~1 and nearly everything is kept.
    assert sum(r.kept_docs for r in rows) > 0


# ---------------------------------------------------------------------------
# BPE merge training
# ---------------------------------------------------------------------------


def _reference_bpe(word_freqs: dict[str, int], num_merges: int,
                   min_freq: int = 2) -> list[tuple[str, str, int]]:
    """Pure-Python reference (Sennrich 2016 pseudocode): same
    tie-break (max count, then lexicographically smallest pair)."""
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    out = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), c = best
        if c < min_freq:
            break
        out.append((l, r, c))
        new_vocab = {}
        for syms, f in vocab.items():
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    res.append(l + r)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            new_vocab[tuple(res)] = new_vocab.get(tuple(res), 0) + f
        vocab = new_vocab
    return out


def test_bpe_train_matches_reference(spark):
    """Distributed merge learning == the sequential reference
    algorithm, merge for merge, on a real fixture slice."""
    from collections import Counter

    from dataingestionengineprocess_spark.operators.bpe import bpe_train_merges

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(60)
    )
    word_freqs = Counter(
        w for r in docs.collect() for w in r.text.split(" ")
    )
    expect = _reference_bpe(dict(word_freqs), num_merges=12)

    got = [
        (r.left, r.right, r.pair_freq)
        for r in bpe_train_merges(docs, num_merges=12).orderBy("rank").collect()
    ]
    assert got == expect
    assert len(got) == 12  # fixture corpus is rich enough to not stall


def test_bpe_merge_rewrite_is_left_to_right(spark):
    """Overlapping occurrences merge left-to-right without overlap:
    'aaa' under merge (a,a) -> ['aa','a'], like the reference."""
    from dataingestionengineprocess_spark.operators.bpe import bpe_train_merges

    docs = spark.createDataFrame(
        [(1, "aaa aaa aaa")], "doc_id long, text string"
    )
    rows = bpe_train_merges(docs, num_merges=2, min_freq=2).collect()
    assert [(r.left, r.right) for r in rows] == [("a", "a"), ("aa", "a")]
    # adjacent-pair counting sees 2 (a,a) pairs per 'aaa', x3 words
    assert rows[0].pair_freq == 6


def test_bpe_encode_matches_reference(spark):
    """Distributed encode (vocab kernel + join-back) == sequential
    reference apply, doc for doc."""
    from collections import Counter

    from dataingestionengineprocess_spark.operators.bpe import (
        bpe_encode_counts,
        bpe_train_merges,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(40)
    )
    rows = docs.collect()
    word_freqs = Counter(w for r in rows for w in r.text.split(" "))
    ref_merges = _reference_bpe(dict(word_freqs), num_merges=10)
    merges = [(l, r) for l, r, _ in ref_merges]

    def ref_encode(w: str) -> int:
        syms = list(w)
        for left, right in merges:
            i, res = 0, []
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    res.append(left + right)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            syms = res
        return len(syms)

    expect = {
        r.doc_id: sum(ref_encode(w) for w in r.text.split(" "))
        for r in rows
    }
    got = {
        r.doc_id: r.n_pieces
        for r in bpe_encode_counts(docs, merges).collect()
    }
    assert got == expect
    # trained merges must actually compress
    trained = [(r.left, r.right) for r in
               bpe_train_merges(docs, num_merges=10).collect()]
    assert trained == merges


def test_bpe_train_survives_messy_whitespace(spark):
    """Consecutive/leading/trailing spaces split into empty tokens;
    training must skip them instead of crashing on a negative slice."""
    from dataingestionengineprocess_spark.operators.bpe import bpe_train_merges

    docs = spark.createDataFrame(
        [(1, "ab ab  ab"), (2, " ab ab "), (3, "")],
        "doc_id long, text string",
    )
    rows = bpe_train_merges(docs, num_merges=2, min_freq=2).collect()
    assert [(r.left, r.right) for r in rows] == [("a", "b")]
    assert rows[0].pair_freq == 5


def test_leakage_safe_split_keeps_neardups_together(spark):
    """The split's whole point: every near-dup pair lands in ONE split,
    and the 80/10/10 proportions roughly hold."""
    from dataingestionengineprocess_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )
    from dataingestionengineprocess_spark.queries.curation import (
        curation_leakage_safe_split,
    )

    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    split = curation_leakage_safe_split(spark, sf)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pairs = prefix_filter_jaccard_pairs(docs, n=3, threshold=0.6)

    a = split.select(F.col("doc_id").alias("id_a"),
                     F.col("split").alias("split_a"))
    b = split.select(F.col("doc_id").alias("id_b"),
                     F.col("split").alias("split_b"))
    straddling = (
        pairs.join(a, "id_a").join(b, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .count()
    )
    assert straddling == 0

    counts = {r.split: r.n for r in
              split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    assert counts["train"] / total > 0.7
    assert 0 < counts["validation"] and 0 < counts["test"]


def test_bpe_local_and_distributed_paths_are_identical(spark):
    """The driver-side merge loop (vocab within local_vocab_limit) and
    the distributed per-round argmax+rewrite must produce the same
    merge table, rank for rank -- the FAISS-style strategy split may
    never change the learned tokenizer."""
    from dataingestionengineprocess_spark.operators.bpe import bpe_train_merges

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    local = [
        tuple(r) for r in
        bpe_train_merges(docs, num_merges=14).orderBy("rank").collect()
    ]
    dist = [
        tuple(r) for r in
        bpe_train_merges(docs, num_merges=14, local_vocab_limit=0)
        .orderBy("rank").collect()
    ]
    assert local == dist and len(local) == 14


def test_token_budget_select_leaves_no_cache(spark):
    """The query's tokenized projection feeds three consumers of the
    returned plan, so it is checkpointed rather than cached: once the
    query has run, the session cache manager is empty."""
    spark.catalog.clearCache()
    all_queries()["curation_token_budget_select"](spark, SF) \
        .write.format("noop").mode("overwrite").save()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
