"""Query-level scaling evidence: time REGISTERED queries on a
k-times-replicated copy of the sf0.1 fixture (an sf1-equivalent corpus
at k=10) at whatever core count $SPARK_GRAFT_CPUS selects.

The sf0.1 bench fixture is too small to evidence parallel scaling --
per-query fixed overheads (AQE stage materialization, task scheduling,
state-store instances) dominate, so 8 cores beats 32 on the full sweep
(VERDICT r10). This tool provides the missing measurement: the same
declared query bodies, run on a 10x corpus where per-task compute is
no longer noise, at 8 vs 32 cores.

    SPARK_GRAFT_CPUS=32 python tools/scale_queries.py q1,q2,... [k] [sf_dir]

Staging: every table is replicated k times with OFFSET KEYS -- each
replica's ids (and the foreign keys that reference them) shift by
i * 10_000_000, so joins stay FK-consistent and duplicate/neighbor
density grows with the corpus instead of collapsing onto the same ids
(the scale_probe.py rule, extended to the whole star schema).
region/nation are constant-size dims at any scale factor and are
copied as-is. A source whose keys already reach REPLICA_OFFSET is
rejected. The staged directory is keyed on (source dir, k) and
reused across invocations -- staging is scaffolding, never timed.

Prints one JSON line: {"cpus": N, "k": k, "queries": {name: sec}}.
NOT part of the bench contract -- bench.py is untouched; this exists
for SCALE.md evidence only.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

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


def stage(spark, sf_dir: str, k: int) -> str:
    """Stage the k-times replicated copy of ``sf_dir``; return its dir.

    Raises ValueError, before anything is written, when an offset
    column of the source holds a key outside [0, REPLICA_OFFSET):
    replica i's keys would then collide with replica i+1's."""
    import hashlib

    if k > 1:
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

    ident = hashlib.md5(f"{sf_dir}|{k}".encode()).hexdigest()[:10]
    dst = os.path.join("/tmp", f"engine_sfscale_{ident}")
    marker = os.path.join(dst, "_STAGED")
    if os.path.exists(marker):
        return dst
    for name, cols in OFFSET_COLS.items():
        src = os.path.join(sf_dir, f"{name}.parquet")
        df = spark.read.parquet(src)
        if cols and k > 1:
            out = df
            for i in range(1, k):
                rep = df
                for c in cols:
                    rep = rep.withColumn(
                        c, F.col(c) + F.lit(i * REPLICA_OFFSET))
                out = out.unionAll(rep)
        else:
            out = df
        out.write.mode("overwrite").parquet(
            os.path.join(dst, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write("ok")
    return dst


def main() -> int:
    names = [n for n in sys.argv[1].split(",") if n]
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"

    spark = get_spark("scale-queries", extra_confs={
        "spark.ui.enabled": "false",
        "spark.driver.memory": "16g",
    })
    staged = stage(spark, sf_dir, k)
    registry = all_queries()

    # warm-up identical to bench.py
    spark.read.parquet(os.path.join(staged, "region.parquet")).count()
    (
        spark.read.parquet(os.path.join(staged, "lineitem.parquet"))
        .groupBy("l_returnflag").count()
        .write.format("noop").mode("overwrite").save()
    )

    timings: dict[str, float] = {}
    for name in names:
        fn = registry.get(name)
        if fn is None:
            print(f"## unknown query {name}", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"scale:{name}")
        start = time.perf_counter()
        try:
            fn(spark, staged).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - start, 3)
        except Exception as e:  # noqa: BLE001 -- record, keep sweeping
            timings[name] = -1.0
            print(f"## {name} failed: {e}", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
        release_persistent_rdds(spark)

    print(json.dumps({
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "k": k,
        "sf_dir": sf_dir,
        "queries": timings,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
