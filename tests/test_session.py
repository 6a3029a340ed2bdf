"""`session.tune_session` and the scale stager's key-range guard."""

from __future__ import annotations

import glob
import importlib.util
import os
from types import SimpleNamespace

import pytest

from dataingestionengineprocess_spark.session import tune_session

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tune_session_sets_the_seven_semantic_confs():
    """Every engine conf except the two sizing ones, each set once."""
    calls = []
    fake = SimpleNamespace(conf=SimpleNamespace(
        set=lambda key, value: calls.append((key, value))))
    assert tune_session(fake) is fake
    assert sorted(calls) == sorted([
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.join.preferSortMergeJoin", "false"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ])


def _scale_queries():
    spec = importlib.util.spec_from_file_location(
        "scale_queries", os.path.join(_ROOT, "tools", "scale_queries.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_stage_rejects_keys_at_the_replica_offset(spark, tmp_path):
    """One key at REPLICA_OFFSET would make replica 0's doc 10,000,000
    and replica 1's doc 0 the same id: stage() refuses before it
    writes a staged table."""
    sq = _scale_queries()
    src = tmp_path / "src"
    for name, cols in sq.OFFSET_COLS.items():
        key = sq.REPLICA_OFFSET if name == "documents" else 1
        spark.range(1).selectExpr(
            *[f"CAST({key} AS BIGINT) AS {c}" for c in cols] or ["id"]
        ).write.parquet(str(src / f"{name}.parquet"))
    staged_before = set(glob.glob("/tmp/engine_sfscale_*"))
    with pytest.raises(ValueError, match="documents"):
        sq.stage(spark, str(src), 2)
    assert set(glob.glob("/tmp/engine_sfscale_*")) == staged_before
