"""Round-6i invariants: Wasserstein/KS drift and Brown-Forsythe."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from dataingestionengineprocess_spark.catalog import load
from dataingestionengineprocess_spark.queries.quality import (
    quality_wasserstein_drift,
)
from dataingestionengineprocess_spark.queries.stat import stat_brown_forsythe
from tests.conftest import SF_SMOKE


def _samples(spark):
    ev = load(spark, SF_SMOKE, "events").collect()
    a = sorted(math.floor(r["value"] * 100 + 0.5) for r in ev
               if r["value"] is not None and r["event_type"] == "purchase")
    b = sorted(math.floor(r["value"] * 100 + 0.5) for r in ev
               if r["value"] is not None and r["event_type"] == "click")
    return a, b


def test_wasserstein_matches_python_integral(spark):
    row = quality_wasserstein_drift(spark, SF_SMOKE).collect()[0]
    a, b = _samples(spark)
    assert (row["n_a"], row["n_b"]) == (len(a), len(b))
    vals = sorted(set(a) | set(b))
    ca = cb = 0
    ia = {}
    for v in a:
        ia[v] = ia.get(v, 0) + 1
    ib = {}
    for v in b:
        ib[v] = ib.get(v, 0) + 1
    w1_q = 0
    ks = 0.0
    for i, v in enumerate(vals[:-1]):
        ca += ia.get(v, 0)
        cb += ib.get(v, 0)
        df = abs(ca / len(a) - cb / len(b))
        ks = max(ks, df)
        gap = vals[i + 1] - v
        w1_q += math.floor(df * gap * 1e4 + 0.5)
    assert abs(row["w1_s"] - w1_q / 1e6) < 1e-12
    assert abs(row["ks_s"] - math.floor(ks * 1e6 + 0.5) / 1e6) < 1e-12
    assert row["w1_s"] > 0 and 0 < row["ks_s"] <= 1


def test_brown_forsythe_matches_python(spark):
    row = stat_brown_forsythe(spark, SF_SMOKE).collect()[0]
    ev = [r for r in load(spark, SF_SMOKE, "events").collect()
          if r["value"] is not None]
    groups: dict[str, list] = {}
    for r in sorted(ev, key=lambda r: (r["value"], r["event_id"])):
        groups.setdefault(r["event_type"], []).append(r["value"])
    zs: dict[str, list] = {}
    for t, vs in groups.items():
        n = len(vs)
        med = (vs[(n + 1) // 2 - 1] + vs[(n + 2) // 2 - 1]) / 2.0
        zs[t] = [math.floor(abs(v - med) * 1e6 + 0.5) for v in vs]
    k = len(zs)
    n = sum(len(v) for v in zs.values())
    s = sum(sum(v) for v in zs.values())
    sqb = sum(sum(v) ** 2 / len(v) for v in zs.values())
    sse = sum(
        sum(math.floor((z / 1e6) ** 2 * 1e4 + 0.5) for z in v) / 1e4
        - sum(v) ** 2 / len(v) / 1e12
        for v in zs.values())
    f = ((sqb / 1e12 - s * s / n / 1e12) / (k - 1)) / (sse / (n - k))
    assert row["k_groups"] == k and row["n_rows"] == n
    assert abs(row["f_stat_s"] - math.floor(f * 1e6 + 0.5) / 1e6) < 1e-9
    assert row["f_stat_s"] >= 0
