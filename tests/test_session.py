"""`session.tune_session`, the step helpers (`checkpoint`,
`scoped_conf`) and the scale stager's key-range guard."""

from __future__ import annotations

import glob
import importlib.util
import os
import sys
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from dataingestionengineprocess_spark.session import (
    checkpoint,
    scoped_conf,
    tune_session,
)

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


def test_checkpoint_names_its_call_site_on_every_job(spark):
    """Each job a checkpoint submits, eager or lazy (under AQE a lazy
    one still runs the plan's shuffle stage), is described by the
    caller's module, function and line; the caller's own description
    and job group survive the call."""
    sc = spark.sparkContext
    def grouped():  # a fresh plan per call: no shuffle stage to reuse
        return spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()

    sc.setJobGroup("checkpoint-step-names", "outer step")
    try:
        line = sys._getframe().f_lineno + 1
        checkpoint(grouped())
        checkpoint(grouped(), eager=False)
        assert sc.getLocalProperty("spark.job.description") == "outer step"
        assert sc.getLocalProperty("spark.jobGroup.id") == \
            "checkpoint-step-names"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup("checkpoint-step-names")
    described = sorted(store.job(j).description().get() for j in jobs)
    site = f"{__name__}.test_checkpoint_names_its_call_site_on_every_job"
    assert len(jobs) >= 2
    assert set(described) == {f"{site}:{line}", f"{site}:{line + 1}"}


def test_scoped_conf_restores_a_set_key_and_unsets_a_new_one(spark):
    """On exit, exceptions included, a key that had a value gets it
    back and a key that had none is unset again."""
    key, fresh = "spark.sql.shuffle.partitions", "spark.graft.test.scoped"
    before = spark.conf.get(key)
    assert spark.conf.get(fresh, None) is None
    with pytest.raises(RuntimeError, match="inside"):
        with scoped_conf(spark, key, "3"), scoped_conf(spark, fresh, "x"):
            assert spark.conf.get(key) == "3"
            assert spark.conf.get(fresh) == "x"
            raise RuntimeError("inside")
    assert spark.conf.get(key) == before
    assert spark.conf.get(fresh, None) is None


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
