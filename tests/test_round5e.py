"""Unit/edge coverage for round-5e (minority oversampling, embedding
outlier screen). Oracle gate in test_oracle_parity.py."""

from __future__ import annotations

from fixture_tables import write_documents, write_embeddings


def test_oversample_exact_balance(spark, tmp_path):
    # en: 7 docs (majority), fr: 3, de: 2 -> every class lands on
    # exactly 7 copies; fr gets k=2 rem=1, de gets k=3 rem=1.
    from dataingestionengineprocess_spark.queries.curation import (
        curation_oversample_minority,
    )

    rows = []
    for i in range(7):
        rows.append((i, "t", "en", "s", 1))
    for i in range(3):
        rows.append((100 + i, "t", "fr", "s", 1))
    for i in range(2):
        rows.append((200 + i, "t", "de", "s", 1))
    out = {r["lang"]: r
           for r in curation_oversample_minority(
               spark, write_documents(spark, tmp_path, rows)).collect()}
    assert all(r["n_after"] == 7 for r in out.values())
    assert (out["fr"]["k_full"], out["fr"]["rem"]) == (2, 1)
    assert (out["de"]["k_full"], out["de"]["rem"]) == (3, 1)
    assert (out["en"]["k_full"], out["en"]["rem"]) == (1, 0)


def test_oversample_majority_unchanged_digest(spark, tmp_path):
    # A single-class corpus: k=1 rem=0 -> the expansion is the
    # identity and the digest equals the digest of 'id:1' tags.
    import hashlib
    from dataingestionengineprocess_spark.queries.curation import (
        curation_oversample_minority,
    )

    rows = [(i, "t", "en", "s", 1) for i in (3, 11, 200)]
    r = curation_oversample_minority(
        spark, write_documents(spark, tmp_path, rows)).collect()[0]
    expect = ",".join(f"{i:020d}:1" for i in sorted((3, 11, 200)))
    assert r["expansion_md5"] == hashlib.md5(expect.encode()).hexdigest()
    assert (r["n_before"], r["n_after"]) == (3, 3)


def test_outlier_screen_flags_planted_vector(spark, tmp_path):
    # Nine tight vectors + one far-away vector in one label: the
    # planted one ranks first with a much larger distance.
    from dataingestionengineprocess_spark.queries.embedding import (
        embedding_outlier_zscore,
    )

    rows = [(i, [0.0 + i * 0.001, 1.0], 0) for i in range(9)]
    rows.append((99, [50.0, 1.0], 0))
    out = embedding_outlier_zscore(
        spark, write_embeddings(spark, tmp_path, rows)).collect()
    assert out[0]["vec_id"] == 99 and out[0]["rk"] == 1
    assert out[0]["m2_s"] > out[1]["m2_s"] * 3


def test_outlier_zero_variance_dim_ignored(spark, tmp_path):
    # dim 2 is constant (variance 0) -> contributes nothing; the
    # distances come from dim 1 alone and stay finite.
    from dataingestionengineprocess_spark.queries.embedding import (
        embedding_outlier_zscore,
    )

    rows = [(i, [float(i), 7.0], 0) for i in range(4)]
    out = embedding_outlier_zscore(
        spark, write_embeddings(spark, tmp_path, rows)).collect()
    assert len(out) == 4
    assert all(r["m2_s"] is not None for r in out)
    # symmetric series: extremes tie, interior points tie lower
    assert out[0]["vec_id"] in (0, 3)
    assert out[0]["m2_s"] == out[1]["m2_s"]
