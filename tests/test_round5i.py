"""Unit/edge coverage for round-5i (two-sample KS, RFM migration,
similarity histogram). Oracle gate in test_oracle_parity.py."""

from __future__ import annotations

from fixture_tables import write_documents, write_embeddings, write_events


def test_ks_perfect_separation(spark, tmp_path):
    # class 0 scores all below class-1 scores -> KS = 1 at the
    # largest class-0 value.
    from dataingestionengineprocess_spark.queries.ml import ml_ks_two_sample

    rows = [(i, [float(i), 0.0], 0) for i in range(3)]          # 0,1,2
    rows += [(10 + i, [10.0 + i, 0.0], 1) for i in range(3)]    # 10..12
    r = ml_ks_two_sample(spark, write_embeddings(spark, tmp_path, rows)) \
        .collect()[0]
    assert (r["n1"], r["n2"]) == (3, 3)
    assert r["ks_s"] == 1.0
    assert r["ks_at_s"] == 2.0


def test_ks_identical_distributions_zero(spark, tmp_path):
    # The same multiset in both classes -> KS = 0.
    from dataingestionengineprocess_spark.queries.ml import ml_ks_two_sample

    rows = [(i, [float(i % 3), 0.0], 0) for i in range(3)]
    rows += [(10 + i, [float(i % 3), 0.0], 1) for i in range(3)]
    r = ml_ks_two_sample(spark, write_embeddings(spark, tmp_path, rows)) \
        .collect()[0]
    assert r["ks_s"] == 0.0


def test_rfm_migration_hand_case(spark, tmp_path):
    # u1 buys in both periods, u2 only period 1 (-> NONE), u3 only
    # period 2 (<- NONE). Terciles of single-user periods are T1.
    from dataingestionengineprocess_spark.queries.events import (
        events_rfm_migration,
    )

    sf = write_events(spark, tmp_path, [
        (1, "2024-01-05 00:00:00", 1, "purchase", 10.0, ""),
        (2, "2024-01-20 00:00:00", 1, "purchase", 5.0, ""),
        (3, "2024-01-06 00:00:00", 2, "purchase", 3.0, ""),
        (4, "2024-01-21 00:00:00", 3, "purchase", 7.0, ""),
    ])
    out = {(r["seg_from"], r["seg_to"]): r
           for r in events_rfm_migration(spark, sf).collect()}
    # u1: T1 in p1 (highest spend 10), in p2 spend 5 -> tercile vs u3
    assert sum(r["n_users"] for r in out.values()) == 3
    assert ("T2", "NONE") in out or ("T1", "NONE") in out  # u2 left
    assert ("NONE", "T1") in out or ("NONE", "T2") in out  # u3 joined
    none_to = [k for k in out if k[0] == "NONE"]
    assert len(none_to) == 1
    assert out[none_to[0]]["spend_to_cents"] == 700


def test_similarity_histogram_buckets(spark, tmp_path):
    # One exact-duplicate pair (j = 1.0 -> bucket 39) and one
    # moderate pair; disjoint fillers contribute nothing.
    from dataingestionengineprocess_spark.queries.curation import (
        curation_similarity_histogram,
    )

    base = "a b c d e f g h i j"
    rows = [
        (0, base, "en", "s", 1),
        (1, base, "en", "s", 1),                  # exact dup: j = 1.0
        (2, " ".join(f"z{i}" for i in range(10)), "en", "s", 1),
    ]
    out = {r["bucket"]: r
           for r in curation_similarity_histogram(
               spark, write_documents(spark, tmp_path, rows)).collect()}
    assert set(out) == {39}
    assert out[39]["n_pairs"] == 1
    assert out[39]["j_min"] == out[39]["j_max"] == 1.0
