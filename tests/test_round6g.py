"""Round-6g invariants: Nelson-Aalen, Procrustes, Neyman, Holt."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from dataingestionengineprocess_spark.catalog import load
from dataingestionengineprocess_spark.queries.embedding import (
    embedding_procrustes_2d,
)
from dataingestionengineprocess_spark.queries.events import (
    events_holt_linear,
    events_nelson_aalen,
)
from dataingestionengineprocess_spark.queries.sample import (
    sample_neyman_allocation,
)
from tests.conftest import SF_SMOKE


def test_nelson_aalen_vs_kaplan_meier(spark):
    from dataingestionengineprocess_spark.queries.events import (
        events_kaplan_meier,
    )

    na = {r["dur"]: r for r in events_nelson_aalen(spark, SF_SMOKE)
          .collect()}
    km = {r["dur"]: r for r in events_kaplan_meier(spark, SF_SMOKE)
          .collect()}
    assert set(na) == set(km)
    prev = -1.0
    for dur in sorted(na):
        r = na[dur]
        # Same duration/censoring table as KM.
        assert (r["n_risk"], r["d"], r["c"]) \
            == (km[dur]["n_risk"], km[dur]["d"], km[dur]["c"])
        # Cumulative hazard is nondecreasing.
        assert r["cum_hazard_s"] >= prev - 1e-12
        prev = r["cum_hazard_s"]
        # exp(-H) >= S always (NA-Fleming-Harrington dominates KM),
        # with near-equality for small hazard steps.
        if km[dur]["surv_s"] > 0:
            assert math.exp(-r["cum_hazard_s"]) >= km[dur]["surv_s"] - 1e-6


def test_procrustes_reduces_sse_and_angle_formula(spark):
    row = embedding_procrustes_2d(spark, SF_SMOKE).collect()[0]
    assert row["sse_after_s"] <= row["sse_before_s"] + 1e-9
    assert -math.pi <= row["theta_s"] <= math.pi
    # Python replay of the closed form.
    vecs = [r["embedding"] for r in
            load(spark, SF_SMOKE, "embeddings").collect()]
    sdot = sum(math.floor((v[0] * v[2] + v[1] * v[3]) * 1e6 + 0.5)
               for v in vecs) / 1e6
    scross = sum(math.floor((v[0] * v[3] - v[1] * v[2]) * 1e6 + 0.5)
                 for v in vecs) / 1e6
    want = math.atan2(scross, sdot)
    assert abs(row["theta_s"] - want) < 2e-6
    assert row["n_rows"] == len(vecs)


def test_neyman_allocation_sums_to_budget(spark):
    rows = sample_neyman_allocation(spark, SF_SMOKE).collect()
    assert sum(r["n_alloc"] for r in rows) == 100
    assert all(r["sd_s"] > 0 for r in rows)
    # Monotone in the weight: a stratum with >= weight gets >= alloc
    # (up to the +-1 largest-remainder step).
    by_w = sorted(rows, key=lambda r: r["n_h"] * r["sd_s"])
    for a, b in zip(by_w, by_w[1:]):
        assert b["n_alloc"] >= a["n_alloc"] - 1


def test_holt_recurrence_matches_python(spark):
    rows = events_holt_linear(spark, SF_SMOKE).collect()
    assert len(rows) >= 3
    days = {r["day_idx"]: float(r["n_events"]) for r in rows}
    idxs = sorted(days)
    assert idxs == list(range(len(idxs)))  # contiguous day series
    l = days[0]
    b = days[1] - days[0]
    got = {r["day_idx"]: r for r in rows}
    assert abs(got[0]["level_s"] - l) < 1e-9
    assert abs(got[0]["trend_s"] - b) < 1e-9
    for i in idxs[1:]:
        nl = 0.5 * days[i] + 0.5 * (l + b)
        b = 0.3 * (nl - l) + 0.7 * b
        l = nl
        assert abs(got[i]["level_s"]
                   - math.floor(l * 1e6 + 0.5) / 1e6) < 1e-12
        assert abs(got[i]["trend_s"]
                   - math.floor(b * 1e6 + 0.5) / 1e6) < 1e-12
        assert abs(got[i]["forecast_next_s"]
                   - math.floor((l + b) * 1e6 + 0.5) / 1e6) < 1e-12
