"""Warehouse compaction: small files in, right-sized files out,
identical rows, atomic swap leaves no side directories."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dataingestionengineprocess_spark.objectstore import hadoop_fs
from dataingestionengineprocess_spark.sinks.warehouse import (
    _dir_stats,
    compact_table,
    swap_into_place,
)


def test_compact_reduces_file_count_and_preserves_rows(spark, tmp_path):
    wh = str(tmp_path)
    df = spark.range(10_000).withColumn("v", F.col("id") * 2)
    # Simulate micro-batch append litter: 64 tiny files.
    df.repartition(64).write.parquet(os.path.join(wh, "t"))
    _, before = _dir_stats(spark, os.path.join(wh, "t"))
    assert before == 64

    stats = compact_table(spark, wh, "t", target_file_bytes=10**9)

    assert stats["files_before"] == 64
    assert stats["files_after"] == 1
    got = spark.read.parquet(os.path.join(wh, "t"))
    assert got.count() == 10_000
    assert got.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]
    # No leftover side dirs from the swap.
    assert sorted(p for p in os.listdir(wh)) == ["t"]


def test_swap_rolls_back_when_the_new_copy_cannot_move_in(spark, tmp_path):
    """`swap_into_place` over a filesystem whose second rename fails:
    IOError, and the original table is back at its path."""
    table, staged = tmp_path / "t", tmp_path / "t__new"
    for d, text in ((table, "old"), (staged, "new")):
        d.mkdir()
        (d / "part-0").write_text(text)
    fs, hp = hadoop_fs(spark, str(table))

    class SecondRenameFails:
        renames = 0

        def delete(self, path, recursive):
            return fs.delete(path, recursive)

        def rename(self, src, dst):
            self.renames += 1
            return self.renames != 2 and fs.rename(src, dst)

    with pytest.raises(IOError, match="^compact_table: could not move .* "
                                      "into place"):
        swap_into_place(SecondRenameFails(), hp, hp.suffix("__new"),
                        hp.suffix("__old"), "compact_table")
    assert (table / "part-0").read_text() == "old"
    assert (staged / "part-0").read_text() == "new"
    assert sorted(os.listdir(tmp_path)) == ["t", "t__new"]


def test_compact_respects_target_size(spark, tmp_path):
    wh = str(tmp_path)
    spark.range(50_000).withColumn("s", F.sha2(F.col("id").cast("string"), 256)) \
        .repartition(32).write.parquet(os.path.join(wh, "t"))
    total, _ = _dir_stats(spark, os.path.join(wh, "t"))
    # Target a quarter of the current bytes -> at least 2 output files.
    stats = compact_table(spark, wh, "t", target_file_bytes=total // 4)
    assert 2 <= stats["files_after"] < 32
    assert spark.read.parquet(os.path.join(wh, "t")).count() == 50_000


def test_expire_runs_keeps_newest_partitions(spark, tmp_path):
    from dataingestionengineprocess_spark.sinks.warehouse import expire_runs

    wh = str(tmp_path)
    for run in ["run-001", "run-002", "run-003", "run-004"]:
        df = spark.range(10).withColumn("_run_id", F.lit(run))
        df.write.mode("append").partitionBy("_run_id").parquet(
            os.path.join(wh, "t")
        )

    stats = expire_runs(spark, wh, "t", keep_last=2)

    assert stats == {"kept": 2, "dropped": 2}
    left = {
        r["_run_id"]
        for r in spark.read.parquet(os.path.join(wh, "t"))
        .select("_run_id").distinct().collect()
    }
    assert left == {"run-003", "run-004"}


def test_expire_runs_mtime_mode_for_unsortable_names(spark, tmp_path):
    """order='mtime' keeps retention chronological when partition
    names do NOT sort: 'stream-10' < 'stream-9' by name, but it is
    the newer run and must be the one kept."""
    import time as _time

    from dataingestionengineprocess_spark.sinks.warehouse import expire_runs

    wh = str(tmp_path)
    for run in ["stream-8", "stream-9", "stream-10"]:  # arrival order
        df = spark.range(5).withColumn("_run_id", F.lit(run))
        df.write.mode("append").partitionBy("_run_id").parquet(
            os.path.join(wh, "t")
        )
        _time.sleep(0.05)  # distinct directory mtimes

    stats = expire_runs(spark, wh, "t", keep_last=1, order="mtime")

    assert stats == {"kept": 1, "dropped": 2}
    left = {
        r["_run_id"]
        for r in spark.read.parquet(os.path.join(wh, "t"))
        .select("_run_id").distinct().collect()
    }
    assert left == {"stream-10"}


def test_expire_runs_name_order_survives_rerun_of_old_run(spark, tmp_path):
    """Default name order is stable under idempotent re-runs: an old
    run re-ingested (fresh mtime!) must NOT displace newer runs from
    retention -- the mtime ordering would delete run-002 here."""
    import time as _time

    from dataingestionengineprocess_spark.sinks.warehouse import expire_runs

    wh = str(tmp_path)
    for run in ["run-001", "run-002", "run-003"]:
        df = spark.range(5).withColumn("_run_id", F.lit(run))
        df.write.mode("append").partitionBy("_run_id").parquet(
            os.path.join(wh, "t")
        )
        _time.sleep(0.05)
    # partner re-drops run-001's file; its partition is rewritten
    spark.range(5).withColumn("_run_id", F.lit("run-001")) \
        .write.mode("overwrite") \
        .option("partitionOverwriteMode", "dynamic") \
        .partitionBy("_run_id").parquet(os.path.join(wh, "t"))

    stats = expire_runs(spark, wh, "t", keep_last=2)

    assert stats == {"kept": 2, "dropped": 1}
    left = {
        r["_run_id"]
        for r in spark.read.parquet(os.path.join(wh, "t"))
        .select("_run_id").distinct().collect()
    }
    assert left == {"run-002", "run-003"}


def test_new_run_ids_sort_chronologically():
    from dataingestionengineprocess_spark.sinks.warehouse import new_run_id

    ids = [new_run_id() for _ in range(50)]
    assert ids == sorted(ids), "time-prefixed ids must sort in creation order"
    assert len(set(ids)) == 50
