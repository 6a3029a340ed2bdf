"""Unit/edge coverage for the round-4z queries (session stats, churn
labels, MinHash recall eval). Oracle gate in test_oracle_parity.py.
"""

from __future__ import annotations

from fixture_tables import write_documents, write_events


# --- session stats -----------------------------------------------------------


def test_session_stats_gap_split_and_bounce(spark, tmp_path):
    # User 1: events at 00:00 and 00:10 (one session, 600 s), then
    # 01:00 (gap 50 min > 30 -> new bounce session). User 2: single
    # event -> bounce. Day total: 3 sessions, 2 bounces.
    from dataingestionengineprocess_spark.queries.events import (
        events_session_stats,
    )

    sf = write_events(spark, tmp_path, [
        (1, "2024-01-05 00:00:00", 1, "view", 0.0, ""),
        (2, "2024-01-05 00:10:00", 1, "view", 0.0, ""),
        (3, "2024-01-05 01:00:00", 1, "view", 0.0, ""),
        (4, "2024-01-05 12:00:00", 2, "view", 0.0, ""),
    ])
    out = events_session_stats(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_sessions"], r["n_bounces"]) == (3, 2)
    assert r["bounce_rate_s"] == 0.666667
    # durations: 600 + 0 + 0 over 3 sessions
    assert r["avg_duration_sec_s"] == 200.0


def test_session_stats_exact_30min_gap_same_session(spark, tmp_path):
    # A gap of EXACTLY 30 minutes does not split (strict >).
    from dataingestionengineprocess_spark.queries.events import (
        events_session_stats,
    )

    sf = write_events(spark, tmp_path, [
        (1, "2024-01-05 00:00:00", 1, "view", 0.0, ""),
        (2, "2024-01-05 00:30:00", 1, "view", 0.0, ""),
    ])
    r = events_session_stats(spark, sf).collect()[0]
    assert (r["n_sessions"], r["n_bounces"]) == (1, 0)


# --- churn labels ------------------------------------------------------------


def test_churn_population_and_label_windows(spark, tmp_path):
    # Cutoff day = 2024-01-21. User 1: obs only -> churned. User 2:
    # obs + horizon activity -> retained. User 3: horizon only ->
    # EXCLUDED (never observed before cutoff). User 4: activity past
    # the horizon end (01-31) only -> still churned.
    from dataingestionengineprocess_spark.queries.ml import ml_churn_labels

    sf = write_events(spark, tmp_path, [
        (1, "2024-01-10 00:00:00", 1, "purchase", 1.0, ""),
        (2, "2024-01-15 00:00:00", 2, "view", 0.0, ""),
        (3, "2024-01-25 00:00:00", 2, "view", 0.0, ""),
        (4, "2024-01-22 00:00:00", 3, "view", 0.0, ""),
        (5, "2024-01-19 00:00:00", 4, "view", 0.0, ""),
        (6, "2024-01-31 12:00:00", 4, "view", 0.0, ""),
    ])
    out = {r["user_id"]: r for r in ml_churn_labels(spark, sf).collect()}
    assert set(out) == {1, 2, 4}
    assert out[1]["churned"] == 1
    assert out[1]["n_purchases_obs"] == 1
    assert out[1]["days_since_last"] == 11  # 01-10 -> 01-21
    assert out[2]["churned"] == 0
    assert out[4]["churned"] == 1  # 01-31 is outside the 10-day horizon


# --- minhash recall eval -----------------------------------------------------


def test_recall_eval_planted_dup_and_clean_corpus(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.dedup import (
        dedup_minhash_recall_eval,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    near = base + " phi"  # trigram jaccard well above 0.6
    # distinct fillers share no shingles with each other or the pair
    fillers = [
        " ".join(f"w{i}x{j}" for j in range(20)) for i in range(4)
    ]
    rows = [(0, base, "en", "a", len(base)), (1, near, "en", "a", len(near))]
    rows += [(i + 2, t, "en", "b", len(t)) for i, t in enumerate(fillers)]
    r = dedup_minhash_recall_eval(
        spark, write_documents(spark, tmp_path, rows)).collect()[0]
    assert (r["n_pred"], r["n_truth"], r["n_tp"]) == (1, 1, 1)
    assert (r["precision_s"], r["recall_s"]) == (1.0, 1.0)

    clean = [(i, t, "en", "b", len(t)) for i, t in enumerate(fillers)]
    r2 = dedup_minhash_recall_eval(
        spark, write_documents(spark, tmp_path, clean)).collect()[0]
    assert (r2["n_pred"], r2["n_truth"], r2["n_tp"]) == (0, 0, 0)
    assert r2["precision_s"] is None and r2["recall_s"] is None
