"""Vector helpers: `l2_normalize` computes the norm once per vector
and must stay bit-identical to the per-element form it replaced."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from dataingestionengineprocess_spark.functions.vectors import (
    l2_norm,
    l2_normalize,
)
from dataingestionengineprocess_spark.session import local_frame


def test_l2_normalize_matches_per_element_form_bit_for_bit(spark):
    """Seeded vectors -- 1536-dim ones, tiny elements whose squares
    are subnormal, mixed magnitudes -- normalize to exactly the
    doubles that dividing each element by ``l2_norm`` inside the
    lambda gives."""
    rng = np.random.default_rng(20)
    rows = []
    for dim in (1, 3, 64, 1536):
        for scale in (1.0, 1e-3, 1e-155, 1e-160, 1e150):
            for _ in range(3):
                rows.append((len(rows),
                             (rng.normal(size=dim) * scale).tolist()))
    rows.append((len(rows), [1e-160, 1.0, -1e-300, 5e-324]))
    rows.append((len(rows), []))
    rows.append((len(rows), None))
    df = local_frame(spark, rows, "id long, v array<double>")
    v = F.col("v")
    out = df.select(
        "id",
        l2_normalize(v).alias("new"),
        F.transform(v, lambda x: x / l2_norm(v)).alias("old"),
    ).collect()
    assert len(out) == len(rows)

    def bits(arr):
        return None if arr is None else [
            None if x is None else float(x).hex() for x in arr]

    for r in out:
        assert bits(r["new"]) == bits(r["old"]), r["id"]
