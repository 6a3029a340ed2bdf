"""Unit/edge coverage for the round-4e queries (annotation /
preference / governance tier). The oracle gate and plan shapes live in
test_oracle_parity.py / test_plan_shapes.py; this file drives the
branches the fixture cannot reach: zero-win sources, identical
eval/train vectors, exact-boundary k classes, purchase-first users,
and hand-replayed md5 coins.
"""

from __future__ import annotations

import hashlib

from fixture_tables import write_documents, write_events, write_table


# --- Bradley-Terry ---------------------------------------------------------


def test_bradley_terry_zero_win_source_stays_finite(spark, tmp_path):
    # Source B loses every synthesized pair (all-unique tokens on A's
    # docs vs fully repeated tokens on B's): its MM numerator is 0.
    # The greatest(..., 1e-6) floor keeps the iteration-2 divisions
    # finite (p_i + p_j > 0), so the solve yields clean numbers --
    # B's normalized share (~5e-7) legitimately snaps to 0.0 at the
    # 1e-6 grid while A takes the whole mass.
    from dataingestionengineprocess_spark.queries.ml import (
        ml_bradley_terry_portable,
    )

    rows = []
    for i in range(0, 8, 2):
        rows.append((i, f"u{i} v{i} w{i}", "en", "srcA", 10))
        rows.append((i + 1, "rep rep rep", "en", "srcB", 11))
    sf = write_documents(spark, tmp_path, rows)
    out = {r["source"]: r for r in ml_bradley_terry_portable(spark, sf).collect()}
    assert out["srcB"]["wins"] == 0 and out["srcB"]["games"] == 7
    assert out["srcA"]["wins"] == 7
    assert out["srcB"]["rating_s"] == 0.0      # snapped, not NaN/inf
    assert out["srcA"]["rating_s"] == 1.0
    assert abs(out["srcA"]["rating_s"] + out["srcB"]["rating_s"] - 1.0) < 1e-5


def test_bradley_terry_tie_goes_to_lexicographically_smaller(spark, tmp_path):
    # Equal distinct-token ratios: the deterministic tiebreak awards
    # the pair to the lexicographically smaller source name.
    from dataingestionengineprocess_spark.queries.ml import (
        ml_bradley_terry_portable,
    )

    sf = write_documents(spark, tmp_path, [
        (0, "a b c", "en", "zeta", 5),
        (1, "d e f", "en", "alpha", 5),
    ])
    out = {r["source"]: r for r in ml_bradley_terry_portable(spark, sf).collect()}
    assert out["alpha"]["wins"] == 1 and out["zeta"]["wins"] == 0


def test_bradley_terry_skips_same_source_and_id_gaps(spark, tmp_path):
    # Adjacent same-source pairs contribute no games, and a doc_id gap
    # breaks adjacency entirely: only the (s1 doc 1, s2 doc 2) pair
    # survives, so s3 never appears in the ratings at all. (F.split
    # tokenizes "" to [""], so an empty doc still carries q = 1.0 --
    # same in both engines -- and ties break lexicographically.)
    from dataingestionengineprocess_spark.queries.ml import (
        ml_bradley_terry_portable,
    )

    sf = write_documents(spark, tmp_path, [
        (0, "a b", "en", "s1", 3),
        (1, "c d", "en", "s1", 3),
        (2, "", "en", "s2", 0),
        (4, "e f", "en", "s3", 3),  # gap: doc_id 3 missing -> no pair
    ])
    out = {r["source"]: r for r in ml_bradley_terry_portable(spark, sf).collect()}
    assert set(out) == {"s1", "s2"}
    assert out["s1"]["wins"] == 1 and out["s2"]["wins"] == 0  # tie -> s1


# --- Fleiss consolidation --------------------------------------------------


def _md5_bucket(s: str, mod: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:6], 16) % mod


def test_fleiss_votes_replay_the_md5_coin(spark, tmp_path):
    # Hand-replay the three annotator coins for each doc and check the
    # majority label + unanimity split matches the query exactly.
    from dataingestionengineprocess_spark.queries.ml import (
        label_fleiss_consolidation,
    )

    rows = [(i, "t", "en" if i % 3 else "de", "s", 1) for i in range(40)]
    sf = write_documents(spark, tmp_path, rows)

    exp_counts: dict[str, int] = {"en": 0, "other": 0}
    exp_unanimous: dict[str, int] = {"en": 0, "other": 0}
    for doc_id, _, lang, _, _ in rows:
        y = 1 if lang == "en" else 0
        votes = [
            (1 - y) if _md5_bucket(f"{doc_id}:{k}", 100) < 10 * (k + 1) else y
            for k in range(3)
        ]
        n_en = sum(votes)
        label = "en" if n_en >= 2 else "other"
        exp_counts[label] += 1
        exp_unanimous[label] += 1 if n_en in (0, 3) else 0

    out = {r["label"]: r for r in label_fleiss_consolidation(spark, sf).collect()}
    for label in ("en", "other"):
        assert out[label]["n_docs"] == exp_counts[label]
        assert out[label]["n_unanimous"] == exp_unanimous[label]
    kappas = {r["kappa_s"] for r in out.values()}
    assert len(kappas) == 1 and -1.0 <= kappas.pop() <= 1.0


# --- Semantic decontamination ----------------------------------------------


def _emb(spark, tmp_path, rows):
    return write_table(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )


def test_decontaminate_flags_identical_vector(spark, tmp_path):
    # An eval vector bit-identical to a train vector scores cosine 1.0
    # and must be flagged; an orthogonal eval vector must not be.
    from dataingestionengineprocess_spark.queries.curation import (
        curation_semantic_decontaminate,
    )

    sf = _emb(spark, tmp_path, [
        (10, [1.0, 0.0, 0.0], 0),   # eval (id % 10 == 0): clone of 11
        (11, [1.0, 0.0, 0.0], 0),   # train
        (20, [0.0, 1.0, 0.0], 0),   # eval: orthogonal to both trains
        (21, [1.0, 0.0, 0.0], 0),   # train
        (22, [0.70710678, 0.0, 0.70710678], 0),  # train: cos 0.707 to 10
    ])
    out = {r["eval_id"]: r for r in
           curation_semantic_decontaminate(spark, sf).collect()}
    assert out[10]["max_cos_s"] == 1.0 and out[10]["contaminated"]
    assert out[10]["best_train_id"] == 11  # ties broken by id: 1.0 beats .707
    assert not out[20]["contaminated"]


def test_decontaminate_nearest_tie_breaks_on_train_id(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.curation import (
        curation_semantic_decontaminate,
    )

    sf = _emb(spark, tmp_path, [
        (0, [1.0, 1.0], 0),
        (7, [2.0, 2.0], 0),   # train: cosine 1.0
        (3, [3.0, 3.0], 0),   # train: cosine 1.0 -- smaller id wins
    ])
    row = curation_semantic_decontaminate(spark, sf).collect()[0]
    assert row["best_train_id"] == 3


# --- Poisson bootstrap ------------------------------------------------------


def test_poisson_weights_replay_md5_cdf(spark, tmp_path):
    # Recompute replicate 0's effective count + weighted sum in Python
    # from the same md5 coin and exact CDF thresholds.
    from dataingestionengineprocess_spark.queries.stat import (
        _POIS_CDF_1E6,
        stat_poisson_bootstrap,
    )

    rows = [(i, "t", "en", "s", 7 + i) for i in range(50)]
    sf = write_documents(spark, tmp_path, rows)

    def w(doc_id: int, rep: int) -> int:
        u = _md5_bucket(f"{doc_id}:{rep}", 1_000_000)
        for k, thr in enumerate(_POIS_CDF_1E6):
            if u < thr:
                return k
        return 6

    exp_n = sum(w(i, 0) for i in range(50))
    exp_sum = sum(w(i, 0) * (7 + i) for i in range(50))
    out = {r["rep"]: r for r in stat_poisson_bootstrap(spark, sf).collect()}
    assert len(out) == 32
    assert out[0]["n_eff"] == exp_n
    assert abs(out[0]["mean_s"] - exp_sum / exp_n) < 2e-6
    ses = {r["se_s"] for r in out.values()}
    assert len(ses) == 1 and ses.pop() > 0.0


# --- k-anonymity ------------------------------------------------------------


def test_k_anonymity_counts_exact_boundary(spark, tmp_path):
    # A class of exactly k=5 is NOT small (strict <); a singleton and
    # a 4-class are. rows_at_risk sums class members, not classes.
    from dataingestionengineprocess_spark.queries.gov import (
        gov_k_anonymity_audit,
    )

    rows = []
    ck = 0
    for n, bal in ((5, 100.0), (4, 1100.0), (1, 2100.0)):
        for _ in range(n):
            rows.append((ck, f"c{ck}", 1, bal, "SEG"))
            ck += 1
    sf = write_table(
        spark, tmp_path, "customer", rows,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    r = gov_k_anonymity_audit(spark, sf).collect()[0]
    assert (r["n_classes"], r["min_k"]) == (3, 1)
    assert r["n_singletons"] == 1
    assert r["n_small_classes"] == 2      # the 4-class and the singleton
    assert r["rows_at_risk"] == 5          # 4 + 1 members, not the k=5 class
    assert r["n_rows"] == 10


def test_k_anonymity_negative_balance_bands_floor_down(spark, tmp_path):
    # floor(-0.5/1000) = -1: negative balances band below zero rather
    # than truncating toward it (no accidental merge with [0,1000)).
    from dataingestionengineprocess_spark.queries.gov import (
        gov_k_anonymity_audit,
    )

    sf = write_table(
        spark, tmp_path, "customer",
        [(1, "a", 1, -0.5, "S"), (2, "b", 1, 0.5, "S")],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    r = gov_k_anonymity_audit(spark, sf).collect()[0]
    assert r["n_classes"] == 2 and r["n_singletons"] == 2


# --- Last-touch attribution --------------------------------------------------


def test_attribution_purchase_first_is_direct(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.events import (
        events_attribution_last_touch,
    )

    sf = write_events(spark, tmp_path, [
        (1, "2024-01-01 09:00:00", 1, "purchase", 10.0, "{}"),
        (2, "2024-01-01 10:00:00", 1, "click", 0.0, "{}"),
        (3, "2024-01-01 11:00:00", 1, "purchase", 20.0, "{}"),
    ])
    out = {r["channel"]: r for r in
           events_attribution_last_touch(spark, sf).collect()}
    assert out["direct"]["n_conversions"] == 1
    assert out["direct"]["revenue_cents"] == 1000
    assert out["click"]["revenue_cents"] == 2000


def test_attribution_skips_intervening_purchases(spark, tmp_path):
    # Two back-to-back purchases after one view: BOTH credit 'view'
    # (a purchase is never a channel for the next purchase).
    from dataingestionengineprocess_spark.queries.events import (
        events_attribution_last_touch,
    )

    sf = write_events(spark, tmp_path, [
        (1, "2024-01-01 09:00:00", 1, "view", 0.0, "{}"),
        (2, "2024-01-01 10:00:00", 1, "purchase", 5.0, "{}"),
        (3, "2024-01-01 11:00:00", 1, "purchase", 7.0, "{}"),
    ])
    out = events_attribution_last_touch(spark, sf).collect()
    assert len(out) == 1 and out[0]["channel"] == "view"
    assert out[0]["n_conversions"] == 2
    assert out[0]["revenue_cents"] == 1200


def test_attribution_same_ts_ordered_by_event_id(spark, tmp_path):
    # Equal timestamps: event_id is the deterministic within-ts order,
    # so the click (smaller id) precedes the purchase.
    from dataingestionengineprocess_spark.queries.events import (
        events_attribution_last_touch,
    )

    sf = write_events(spark, tmp_path, [
        (1, "2024-01-01 09:00:00", 1, "click", 0.0, "{}"),
        (2, "2024-01-01 09:00:00", 1, "purchase", 3.0, "{}"),
    ])
    out = events_attribution_last_touch(spark, sf).collect()
    assert out[0]["channel"] == "click"
