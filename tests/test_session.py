"""`session.tune_session`, the step helpers (`checkpoint`,
`scoped_conf`) and the scale stager's key-range guard and replicas."""

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


def test_loading_scale_queries_leaves_perfbench_off_the_path():
    """The staging helpers import without perfbench: its run.py puts
    perfbench/ first on sys.path, where its generic module names
    (run, stats, fixtures) would shadow others for the whole process."""
    before = set(sys.modules)
    _scale_queries()
    assert os.path.join(_ROOT, "perfbench") not in sys.path
    assert not {"run", "spans"} & (set(sys.modules) - before)


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
    with pytest.raises(ValueError, match="documents"):
        sq.check_key_range(spark, str(src))
    staged_before = set(glob.glob("/tmp/engine_sfscale_*"))
    with pytest.raises(ValueError, match="documents"):
        sq.stage(spark, str(src), 2)
    assert set(glob.glob("/tmp/engine_sfscale_*")) == staged_before


def test_replicas_at_k2_shift_keys_by_the_offset(spark, sf_dir):
    """The shared union helper at k=2: rows double, replica 1 is the
    source with every offset key raised by exactly REPLICA_OFFSET, and
    an FK join matches twice as many rows. At k=1 nothing is staged."""
    sq = _scale_queries()
    sq.check_key_range(spark, sf_dir)
    assert sq.stage(spark, sf_dir, 1) == sf_dir

    def read(name):
        return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

    lineitem, orders = read("lineitem"), read("orders")
    cols = sq.OFFSET_COLS["orders"]
    orders2 = sq.replicated(orders, 2, cols)
    lineitem2 = sq.replicated(lineitem, 2, sq.OFFSET_COLS["lineitem"])
    assert orders2.count() == 2 * orders.count()
    assert lineitem2.count() == 2 * lineitem.count()

    replica1 = orders2.where(F.col("o_orderkey") >= sq.REPLICA_OFFSET)
    shifted = orders.withColumns(
        {c: F.col(c) + sq.REPLICA_OFFSET for c in cols})
    assert replica1.exceptAll(shifted).count() == 0
    assert shifted.exceptAll(replica1).count() == 0

    def fk_matches(li, o):
        return li.join(o, li.l_orderkey == o.o_orderkey).count()

    assert fk_matches(lineitem2, orders2) == 2 * fk_matches(lineitem, orders)
