"""Unit/edge coverage for the round-4q queries (winnowing
fingerprints + activity islands). The oracle gate lives in
test_oracle_parity.py; this file proves the winnowing
shared-substring guarantee and hand-tracks island arithmetic.
"""

from __future__ import annotations

from fixture_tables import write_documents, write_events


# --- winnowing ---------------------------------------------------------------


def test_winnow_shared_substring_guarantee(spark, tmp_path):
    # The paper's theorem: any shared substring of length >= w + k - 1
    # (= 15 here) yields at least one SHARED fingerprint (same hash,
    # possibly different positions). Embed one in otherwise-different
    # docs.
    from dataingestionengineprocess_spark.queries.text import (
        text_winnowing_fingerprints,
    )

    shared = "the quick brown fox jumps"  # 25 chars >= 15
    rows = [
        (1, "aaaa " + shared + " bbbb", "en", "s", 0),
        (2, "zzzzzz " + shared + " qqqq", "en", "s", 0),
    ]
    fps = text_winnowing_fingerprints(
        spark, write_documents(spark, tmp_path, rows)).collect()
    f1 = {r["fp"] for r in fps if r["doc_id"] == 1}
    f2 = {r["fp"] for r in fps if r["doc_id"] == 2}
    assert f1 & f2, "shared 25-char substring must share a fingerprint"


def test_winnow_short_doc_and_sub_k_doc(spark, tmp_path):
    # A doc of >= k (8) chars but fewer than w grams still emits at
    # least one fingerprint (degraded single window); a doc shorter
    # than k emits none.
    from dataingestionengineprocess_spark.queries.text import (
        text_winnowing_fingerprints,
    )

    rows = [
        (1, "abcdefghij", "en", "s", 0),   # 10 chars -> 3 grams < w
        (2, "short", "en", "s", 0),        # 5 chars < k -> nothing
    ]
    fps = text_winnowing_fingerprints(
        spark, write_documents(spark, tmp_path, rows)).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc.get(1, [])) >= 1
    assert 2 not in by_doc


def test_winnow_positions_in_bounds_and_density(spark, tmp_path):
    # Fingerprint positions stay within [1, len-k+1]; selection
    # density is bounded by the number of full windows (<= one pick
    # per window start).
    from dataingestionengineprocess_spark.queries.text import (
        text_winnowing_fingerprints,
    )

    text = "abcdefgh" * 8  # 64 chars, 57 grams
    rows = [(1, text, "en", "s", 0)]
    fps = text_winnowing_fingerprints(
        spark, write_documents(spark, tmp_path, rows)).collect()
    assert fps
    for r in fps:
        assert 1 <= r["pos"] <= len(text) - 8 + 1
    assert len(fps) <= 57 - 8 + 1


# --- activity islands --------------------------------------------------------


def test_islands_hand_tracked(spark, tmp_path):
    # User 1 active on day_nums {0,1,2, 6,7, 19} (anchor 2024-01-01):
    # 3 islands, longest 3 starting day 0, 6 active days. Two events
    # on one day must not double-count.
    from dataingestionengineprocess_spark.queries.events import (
        events_activity_islands,
    )

    days = ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-07",
            "2024-01-08", "2024-01-20", "2024-01-01"]
    rows = [(i, f"{d} 12:00:00", 1, "view", 0.0, "")
            for i, d in enumerate(days)]
    r = events_activity_islands(
        spark, write_events(spark, tmp_path, rows)).collect()[0]
    assert (r["n_active_days"], r["n_islands"], r["longest_len"],
            r["longest_start_day"]) == (6, 3, 3, 0)


def test_islands_tie_breaks_earliest_start(spark, tmp_path):
    # Two islands of equal length 2 -> longest_start_day is the
    # EARLIER start.
    from dataingestionengineprocess_spark.queries.events import (
        events_activity_islands,
    )

    days = ["2024-02-01", "2024-02-02", "2024-02-10", "2024-02-11"]
    rows = [(i, f"{d} 00:30:00", 7, "view", 0.0, "")
            for i, d in enumerate(days)]
    r = events_activity_islands(
        spark, write_events(spark, tmp_path, rows)).collect()[0]
    assert r["n_islands"] == 2 and r["longest_len"] == 2
    assert r["longest_start_day"] == 31  # 2024-02-01
