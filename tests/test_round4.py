"""Round-4 query invariants beyond the oracle gate: the JDBC read is
genuinely partitioned, the repetition filters match a pure-Python
reference, DSIR selects exactly floor(n/4) docs with deterministic
re-runs, and the BPE certificate's first merge equals the reference
trainer's first merge."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from dataingestionengineprocess_spark.queries import all_queries


def test_jdbc_roundtrip_read_is_partitioned(spark, sf_dir):
    """The readback must fan out over numPartitions JDBC range
    queries, not funnel through one connection."""
    from dataingestionengineprocess_spark.queries.source import (
        _DERBY_DRIVER,
        _derby_url,
    )
    from dataingestionengineprocess_spark.sources.jdbc import (
        JdbcConfig, read_jdbc,
    )

    # run the query once so the Derby table exists
    out = all_queries()["source_jdbc_roundtrip"](spark, sf_dir).collect()
    assert len(out) == 5  # five regions
    assert sum(r.n_nations for r in out) == 25

    # resolve the exact path the query used (shared derivation rule,
    # no wipe) and assert the partition contract on a fresh read of
    # the published table
    from dataingestionengineprocess_spark.catalog import scratch_path

    path = scratch_path("derby_jdbc", sf_dir)
    cfg = JdbcConfig(
        url=_derby_url(path), table="nation",
        properties={"driver": _DERBY_DRIVER},
        partition_column="n_nationkey", lower_bound="0",
        upper_bound="25", num_partitions=4,
    )
    back = read_jdbc(spark, cfg)
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == 25


def test_repetition_filters_match_reference(spark, sf_dir):
    """Spark fractions/gates == a pure-Python recount on the same
    docs (independent of the DuckDB oracle)."""
    from dataingestionengineprocess_spark.catalog import load

    got = {
        r.doc_id: r
        for r in all_queries()["text_repetition_filters"](spark, sf_dir)
        .collect()
    }
    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    import math

    checked = 0
    for d in docs[:50]:
        t = d.text.split(" ")
        if len(t) < 3:
            assert d.doc_id not in got
            continue
        g2 = Counter(zip(t, t[1:]))
        g3 = Counter(zip(t, t[1:], t[2:]))
        tot2, tot3 = sum(g2.values()), sum(g3.values())
        top2 = max(g2.values())
        dup3 = sum(c for c in g3.values() if c > 1)
        r = got[d.doc_id]
        assert r.top2_frac == math.floor(top2 * 1e6 / tot2 + 0.5) / 1e6
        assert r.dup3_frac == math.floor(dup3 * 1e6 / tot3 + 0.5) / 1e6
        assert r.keep == (top2 * 12 <= tot2 and dup3 * 10 <= tot3)
        checked += 1
    assert checked >= 40


def test_dsir_selects_exact_quarter_deterministically(spark, sf_dir):
    rows = all_queries()["curation_dsir_weights"](spark, sf_dir).collect()
    n = len(rows)
    assert sum(1 for r in rows if r.selected) == int(n * 0.25)
    again = all_queries()["curation_dsir_weights"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_bpe_certificate_first_merge_matches_reference(spark, sf_dir):
    """The certificate's first merge must equal a pure-Python
    frequency count's argmax under (count DESC, pair ASC)."""
    from dataingestionengineprocess_spark.catalog import load

    cert = {
        r.item: r
        for r in all_queries()["text_bpe_train_certificate"](spark, sf_dir)
        .collect()
    }
    assert cert["well_formed_chain"].ok

    freq: Counter = Counter()
    for d in load(spark, sf_dir, "documents").select("text").collect():
        for w, c in Counter(
            w for w in d.text.split(" ") if w
        ).items():
            for a, b in zip(w, w[1:]):
                freq[(a, b)] += c
    (l, r), c = min(freq.items(), key=lambda kv: (-kv[1], kv[0]))
    fm = cert["first_merge"]
    assert (fm.left_sym, fm.right_sym, fm.pair_freq) == (l, r, c)


def test_persisted_shingle_index_maintenance(spark, tmp_path):
    """The deployment loop: admit batch 1 against the published index,
    APPEND the admitted docs' index rows as the next snapshot, and
    batch 2 must then be rejected against batch-1 content it
    duplicates -- the corpus is never re-scanned."""
    from pyspark.sql import Row

    from dataingestionengineprocess_spark.operators.dedup import (
        build_shingle_index,
        incremental_jaccard_admission,
    )
    from dataingestionengineprocess_spark.sinks.versioned import (
        VersionedTable,
    )

    corpus = spark.createDataFrame([
        Row(doc_id=1, text="alpha beta gamma delta epsilon zeta"),
        Row(doc_id=2, text="one two three four five six seven"),
    ])
    b1 = spark.createDataFrame([
        Row(doc_id=10, text="red orange yellow green blue indigo"),
        Row(doc_id=11, text="alpha beta gamma delta epsilon zeta"),  # dup of 1
    ])
    b2 = spark.createDataFrame([
        Row(doc_id=20, text="red orange yellow green blue indigo"),  # dup of 10
    ])

    vt = VersionedTable(spark, str(tmp_path / "idx"))
    vt.publish(build_shingle_index(corpus, n=3))

    d1 = {r.doc_id: r for r in incremental_jaccard_admission(
        None, b1, corpus_index=vt.read(), n=3, threshold=0.6).collect()}
    assert d1[10].status == "admit"
    assert d1[11].status == "reject" and d1[11].match_id == 1

    admitted = b1.filter(F.col("doc_id") == 10)
    vt.publish(vt.read().unionByName(build_shingle_index(admitted, n=3)))

    d2 = {r.doc_id: r for r in incremental_jaccard_admission(
        None, b2, corpus_index=vt.read(), n=3, threshold=0.6).collect()}
    assert d2[20].status == "reject" and d2[20].match_id == 10
    assert vt.current_version() == 2


def _tiny_corpus_dir(spark, tmp_path, rows):
    """Write a minimal documents.parquet a query's sf_dir can point at."""
    import os

    d = str(tmp_path / "sfedge")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    ).withColumn("n_chars", F.length("text")) \
     .coalesce(1).write.mode("overwrite") \
     .parquet(os.path.join(d, "documents.parquet"))
    return d


def _oracle_df(sf_dir, sql):
    import os

    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(sf_dir, 'documents.parquet')}/*.parquet'"
    )
    return con.execute(sql).df()


def test_repetition_filters_edge_corpus_matches_oracle(spark, tmp_path):
    """Single-token and two-token documents must neither crash the
    Spark side (sequence(1, 0) descends!) nor diverge from the oracle
    (DuckDB's range(1, 1) is empty): both sides drop docs without a
    3-gram and agree on the rest -- including an all-same-token doc
    whose dup3_frac is 1."""
    from dataingestionengineprocess_spark.oracle_compare import digest_frame
    from dataingestionengineprocess_spark.queries import (
        all_oracles,
        all_queries,
    )

    rows = [
        (1, "en", "s", "solo"),
        (2, "en", "s", "two words"),
        (3, "en", "s", "a a a a a a"),
        (4, "en", "s", "one two three four five six"),
        (5, "en", "s", ""),
    ]
    d = _tiny_corpus_dir(spark, tmp_path, rows)
    sdf = all_queries()["text_repetition_filters"](spark, d).toPandas()
    odf = _oracle_df(d, all_oracles()["text_repetition_filters"])
    assert sorted(sdf["doc_id"]) == [3, 4]
    got3 = sdf[sdf.doc_id == 3].iloc[0]
    assert got3["dup3_frac"] == 1.0 and not got3["keep"]
    assert digest_frame(sdf, float_digits=9) == digest_frame(
        odf, float_digits=9)


def test_dsir_degenerate_corpora_match_oracle(spark, tmp_path):
    """The k=0 corner (fewer than 4 docs -> floor(n*0.25) = 0): the
    batch selector must select nothing and the streaming gate must
    emit NULL passed -- on BOTH engines, hash-identically. Also
    covers single-token docs inside the gram build."""
    from dataingestionengineprocess_spark.oracle_compare import digest_frame
    from dataingestionengineprocess_spark.queries import (
        all_oracles,
        all_queries,
    )

    rows = [
        (1, "en", "s", "alpha"),
        (2, "de", "s", "beta gamma"),
        (3, "en", "s", "delta epsilon zeta"),
    ]
    d = _tiny_corpus_dir(spark, tmp_path, rows)
    qs, os_ = all_queries(), all_oracles()

    batch = qs["curation_dsir_weights"](spark, d).toPandas()
    assert not batch["selected"].any()
    assert digest_frame(batch, float_digits=9) == digest_frame(
        _oracle_df(d, os_["curation_dsir_weights"]), float_digits=9)

    gate = qs["stream_dsir_gate"](spark, d).toPandas()
    assert gate["passed"].isna().all()
    assert digest_frame(gate, float_digits=9) == digest_frame(
        _oracle_df(d, os_["stream_dsir_gate"]), float_digits=9)


def test_bpe_certificate_no_qualifying_pair_corpus(spark, tmp_path):
    """A corpus where no adjacent char pair reaches min_freq=2: the
    trainer emits no merges, and BOTH rows of the certificate carry
    NULL fields and ok=FALSE -- on both engines, hash-identically
    (exercises the oracle's empty-`first` LEFT JOIN branch)."""
    from dataingestionengineprocess_spark.oracle_compare import digest_frame
    from dataingestionengineprocess_spark.queries import (
        all_oracles,
        all_queries,
    )

    # every word appears once and shares no adjacent pair with any
    # other: all pair frequencies are 1 < min_freq
    rows = [
        (1, "en", "s", "ab cd"),
        (2, "en", "s", "ef gh"),
    ]
    d = _tiny_corpus_dir(spark, tmp_path, rows)
    sdf = all_queries()["text_bpe_train_certificate"](spark, d).toPandas()
    assert not sdf["ok"].any()
    assert sdf["left_sym"].isna().all() and sdf["pair_freq"].isna().all()
    odf = _oracle_df(d, all_oracles()["text_bpe_train_certificate"])
    assert digest_frame(sdf, float_digits=9) == digest_frame(
        odf, float_digits=9)
