"""Exact distributed heavy hitters via the two-pass Misra-Gries shape.

Finding every item with frequency >= phi*N in one pass needs either a
full groupBy over all distinct items (fine until the item domain
explodes -- think 100 TB of n-grams) or a sketch. The production
answer is both, in sequence:

1. CANDIDATES: each partition runs a Misra-Gries(k) summary over its
   items (bounded memory: k counters, k >= 1/phi guarantees every
   global heavy hitter survives in at least one partition's summary --
   an item with global freq >= N/k has partition freq >= N_p/k in at
   least one partition by averaging). The union of per-partition
   candidates is small (<= k * partitions).
2. EXACT RECOUNT: candidates broadcast as a semi-join filter over the
   item stream; only candidate items are counted, exactly. A final
   HAVING >= threshold keeps the true heavy hitters.

The output is therefore EXACT (sketch false positives die in the
recount; false negatives cannot happen with k >= 1/phi), while the
full-domain shuffle is replaced by one bounded-memory map pass plus a
count over a filtered stream.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import checkpoint

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd


def _mg_partition(it: Iterator["pd.DataFrame"], k: int):
    """Misra-Gries(k) over one partition's item stream. Also emits the
    partition's row count as one ``item IS NULL`` sentinel row, so the
    global N rides along on this pass instead of costing the stream a
    separate counting scan."""
    import pandas as pd

    counters: dict[str, int] = {}
    n = 0
    for pdf in it:
        n += len(pdf)
        for item in pdf["item"]:
            if item in counters:
                counters[item] += 1
            elif len(counters) < k:
                counters[item] = 1
            else:
                # decrement-all step; drop zeroed counters
                dead = []
                for key in counters:
                    counters[key] -= 1
                    if counters[key] == 0:
                        dead.append(key)
                for key in dead:
                    del counters[key]
    yield pd.DataFrame({
        "item": list(counters.keys()) + [None],
        "part_n": [0] * len(counters) + [n],
    })


def heavy_hitters(items: DataFrame, item_col: str,
                  phi: float = 0.005, k: int | None = None) -> DataFrame:
    """Every item with frequency >= ceil(phi * N), with its EXACT
    count -- (item, cnt, n_total). ``k`` defaults to ceil(2/phi)
    (the 2x slack keeps candidate recall robust to partition skew
    beyond the averaging bound).
    """
    if not 0.0 < phi < 1.0:
        raise ValueError(f"phi must be in (0, 1), got {phi}")
    if k is None:
        k = int(2.0 / phi) + 1

    stream = items.select(F.col(item_col).cast("string").alias("item"))

    def mg(it):
        return _mg_partition(it, k)

    # One sketch pass produces BOTH the candidate set and the global N
    # (sentinel rows), computed once (localCheckpoint: two consumers).
    sketch = checkpoint(stream.mapInPandas(
        mg, schema="item string, part_n long"
    ))
    candidates = sketch.filter(F.col("item").isNotNull()) \
        .select("item").distinct()
    total = sketch.agg(F.sum("part_n").alias("n_total"))
    counted = (
        stream.join(F.broadcast(candidates), "item", "left_semi")
        .groupBy("item")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        counted.join(F.broadcast(total))
        .filter(F.col("cnt") >= F.ceil(F.lit(phi) * F.col("n_total")))
        .select(F.col("item").alias(item_col), "cnt", "n_total")
    )
