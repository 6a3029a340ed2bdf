"""Unit/edge coverage for events_markov_attribution. Oracle gate in
test_oracle_parity.py; these pin the removal-effect semantics on
hand-built journeys."""

from __future__ import annotations

from fixture_tables import write_events


def test_attribution_single_mandatory_channel(spark, tmp_path):
    # Every converting journey passes through 'view' only:
    # u1 view->purchase, u2 view->purchase, u3 click (no purchase).
    # Removing view kills ALL conversion -> RE(view) = 1, share 1.
    # Removing click changes nothing -> RE(click) = 0, share 0.
    from dataingestionengineprocess_spark.queries.events import (
        events_markov_attribution,
    )

    sf = write_events(spark, tmp_path, [
        (1, "2024-01-01 00:00:00", 1, "view", 0.0, ""),
        (2, "2024-01-01 00:01:00", 1, "purchase", 0.0, ""),
        (3, "2024-01-01 00:00:00", 2, "view", 0.0, ""),
        (4, "2024-01-01 00:01:00", 2, "purchase", 0.0, ""),
        (5, "2024-01-01 00:00:00", 3, "click", 0.0, ""),
    ])
    out = {r["state"]: r
           for r in events_markov_attribution(spark, sf).collect()}
    assert set(out) == {"view", "click"}
    assert out["view"]["re_s"] == 1.0
    assert out["view"]["share_s"] == 1.0
    assert out["click"]["re_s"] == 0.0
    assert out["click"]["share_s"] == 0.0
    assert out["view"]["pconv_removed_s"] == 0.0
    # 2 of 3 journeys convert; quantized 12-step absorption
    assert abs(out["view"]["pconv_base_s"] - 2 / 3) < 1e-5
    assert out["view"]["n_touches"] == 2
    assert out["click"]["n_touches"] == 1


def test_attribution_immediate_purchase_start_conv(spark, tmp_path):
    # A user whose FIRST event is the purchase contributes the
    # START -> CONV edge; with another user's view journey the model
    # still converges and view's removal only kills view's journey.
    from dataingestionengineprocess_spark.queries.events import (
        events_markov_attribution,
    )

    sf = write_events(spark, tmp_path, [
        (1, "2024-01-01 00:00:00", 1, "purchase", 0.0, ""),
        (2, "2024-01-01 00:00:00", 2, "view", 0.0, ""),
        (3, "2024-01-01 00:01:00", 2, "purchase", 0.0, ""),
    ])
    out = {r["state"]: r
           for r in events_markov_attribution(spark, sf).collect()}
    assert set(out) == {"view"}
    r = out["view"]
    assert r["pconv_base_s"] == 1.0       # both journeys convert
    assert r["pconv_removed_s"] == 0.5    # only START->CONV survives
    assert r["re_s"] == 0.5
    assert r["share_s"] == 1.0


def test_attribution_no_conversions_null_effects(spark, tmp_path):
    # No purchases at all: base P(conv) = 0 -> removal effects and
    # shares are NULL (no division blow-up in either engine).
    from dataingestionengineprocess_spark.queries.events import (
        events_markov_attribution,
    )

    sf = write_events(spark, tmp_path, [
        (1, "2024-01-01 00:00:00", 1, "view", 0.0, ""),
        (2, "2024-01-01 00:01:00", 1, "click", 0.0, ""),
    ])
    out = {r["state"]: r
           for r in events_markov_attribution(spark, sf).collect()}
    assert set(out) == {"view", "click"}
    for r in out.values():
        assert r["pconv_base_s"] == 0.0
        assert r["re_s"] is None and r["share_s"] is None
