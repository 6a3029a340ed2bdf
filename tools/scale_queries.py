"""Query timing and scaling evidence: time REGISTERED queries on the
fixture replicated k times (an sf1-equivalent corpus at k=10 over
sf0.1) at whatever core count $SPARK_GRAFT_CPUS selects.

The sf0.1 bench fixture is too small to evidence parallel scaling --
per-query fixed overheads (AQE stage materialization, task scheduling,
state-store instances) dominate, so 8 cores beats 32 on the full sweep
(VERDICT r10). This tool provides the missing measurement: the same
declared query bodies, run on a 10x corpus where per-task compute is
no longer noise, at 8 vs 32 cores. At k=1 it is the per-query
profiler: the queries run on ``sf_dir`` itself, nothing is staged.

    SPARK_GRAFT_CPUS=32 python tools/scale_queries.py q1,q2,... [k] [sf_dir]

Staging: every table is replicated k times with OFFSET KEYS -- each
replica's ids (and the foreign keys that reference them) shift by
i * REPLICA_OFFSET, so joins stay FK-consistent and duplicate/neighbor
density grows with the corpus instead of collapsing onto the same ids.
region/nation are constant-size dims at any scale factor and are
copied as-is. A source whose keys already reach REPLICA_OFFSET is
rejected. The staged directory is keyed on (source dir, k) and
reused across invocations -- staging is scaffolding, never timed.
`tools/scale_probe.py` replicates its operator inputs with the same
offset, guard and union helper.

Each listed query runs once after the bench warm-up, traced with
perfbench's span accounting (`perfbench/spans.py`): wall time split
into construction (``fn(spark, dir)``) and action (the noop write),
and the jobs, tasks, executor CPU and shuffle bytes its Spark jobs
ran. A name listed n times runs n times, in list order (``q1,q1,q1``
gives the first run and two steady-state ones). Prints one JSON line:
{"cpus": N, "k": k, "sf_dir": dir, "queries": {name: [run, ...]}},
each run {"wall_s", "construct_s", "action_s", "construct_jobs",
"action_jobs", "tasks", "executor_cpu_s", "shuffle_read_bytes",
"shuffle_write_bytes"}, or {"error": message} for a failed run.
NOT part of the bench contract -- bench.py is untouched; this exists
for SCALE.md evidence only.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")
sys.path.insert(0, ROOT)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from dataingestionengineprocess_spark.queries import all_queries  # noqa: E402
from dataingestionengineprocess_spark.session import (  # noqa: E402
    get_spark,
    release_persistent_rdds,
)

#: id columns shifted per replica: table -> [key columns]. Every FK
#: references a shifted PK of the same name family, so offsetting both
#: sides by the same per-replica delta keeps joins consistent.
OFFSET_COLS: dict[str, list[str]] = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "region": [],
    "nation": [],
}

REPLICA_OFFSET = 10_000_000

#: per-query counters summed over the query's spans
TRACED = ("tasks", "executor_cpu_s", "shuffle_read_bytes",
          "shuffle_write_bytes")


def check_key_range(spark, sf_dir: str) -> None:
    """Raise ValueError when an offset column of ``sf_dir`` holds a key
    outside [0, REPLICA_OFFSET): replica i's keys would then collide
    with replica i+1's."""
    for name, cols in OFFSET_COLS.items():
        if not cols:
            continue
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        row = df.agg(*[F.min(c) for c in cols],
                     *[F.max(c) for c in cols]).first()
        bad = [c for c, lo, hi in zip(cols, row[:len(cols)],
                                      row[len(cols):])
               if lo is not None and (lo < 0 or hi >= REPLICA_OFFSET)]
        if bad:
            raise ValueError(
                f"{name}: keys of {bad} fall outside "
                f"[0, {REPLICA_OFFSET}); replicas would collide")


def replicated(df: DataFrame, k: int, cols: list[str],
               vary=None) -> DataFrame:
    """``df`` and k-1 replicas of it in one union. Replica i shifts
    each of ``cols`` by i * REPLICA_OFFSET and, given ``vary``, is then
    ``vary(replica, i)`` (a salt, a sign mask, a time shift)."""
    out = df
    for i in range(1, k):
        rep = df.withColumns(
            {c: F.col(c) + F.lit(i * REPLICA_OFFSET) for c in cols})
        out = out.unionAll(vary(rep, i) if vary else rep)
    return out


def stage(spark, sf_dir: str, k: int) -> str:
    """Directory of ``sf_dir`` replicated k times: ``sf_dir`` itself at
    k=1, else a staged copy.

    Raises ValueError, before anything is written, when the source's
    keys reach REPLICA_OFFSET (`check_key_range`)."""
    if k == 1:
        return sf_dir
    check_key_range(spark, sf_dir)
    ident = hashlib.md5(f"{sf_dir}|{k}".encode()).hexdigest()[:10]
    dst = os.path.join("/tmp", f"engine_sfscale_{ident}")
    marker = os.path.join(dst, "_STAGED")
    if os.path.exists(marker):
        return dst
    for name, cols in OFFSET_COLS.items():
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        out = replicated(df, k, cols) if cols else df
        out.write.mode("overwrite").parquet(
            os.path.join(dst, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write("ok")
    return dst


def time_query(spark, tracer, name: str, fn, sf_dir: str) -> dict:
    """Construct and act (noop sink) once inside spans of ``tracer``
    (a `spans.Tracer`); the query's wall split and the Spark counters
    of its jobs."""
    from spans import collect_tree, tree_total
    with tracer.span(f"scale:{name}") as root:
        with tracer.span(f"scale:{name}:construct") as cspan:
            df = fn(spark, sf_dir)
        with tracer.span(f"scale:{name}:action") as aspan:
            df.write.format("noop").mode("overwrite").save()
    collect_tree(tracer, root)
    return {
        "wall_s": round(root.duration, 3),
        "construct_s": round(cspan.duration, 3),
        "action_s": round(aspan.duration, 3),
        "construct_jobs": cspan.counts["jobs"],
        "action_jobs": aspan.counts["jobs"],
        **{key: round(tree_total(tracer, root, key), 3) for key in TRACED},
    }


def main() -> int:
    names = [n for n in sys.argv[1].split(",") if n]
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"

    # perfbench is imported only to measure: run.py puts perfbench/
    # first on sys.path, which importing the staging helpers above
    # (the tests and scale_probe.py do) must not do
    sys.path.insert(0, PERFBENCH)
    from run import warm_up
    from spans import Tracer

    spark = get_spark("scale-queries", extra_confs={
        "spark.ui.enabled": "false",
        "spark.driver.memory": "16g",
    })
    staged = stage(spark, sf_dir, k)
    registry = all_queries()
    warm_up(spark, staged)

    tracer = Tracer(spark.sparkContext)
    results: dict[str, list[dict]] = {}
    for name in names:
        fn = registry.get(name)
        if fn is None:
            print(f"## unknown query {name}", file=sys.stderr)
            continue
        try:
            run = time_query(spark, tracer, name, fn, staged)
        except Exception as e:  # noqa: BLE001 -- record, keep sweeping
            run = {"error": f"{type(e).__name__}: {e}"}
            print(f"## {name} failed: {e}", file=sys.stderr)
        results.setdefault(name, []).append(run)
        release_persistent_rdds(spark)

    print(json.dumps({
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "k": k,
        "sf_dir": sf_dir,
        "queries": results,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
