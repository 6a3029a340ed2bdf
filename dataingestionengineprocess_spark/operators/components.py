"""Connected components over a near-duplicate pair graph.

The missing piece between "near-dup PAIRS" (dedup.py's MinHash / SimHash
/ Jaccard outputs) and "deduplicated CORPUS": pairs must be closed into
clusters (a~b, b~c => {a,b,c}) and one canonical document kept per
cluster. On a 100 TB corpus the pair graph itself is distributed, so
this is iterative label propagation on DataFrames, not a driver-side
union-find:

- every node starts labeled with its own id;
- each round, a node takes the min label among itself and its
  neighbors (one equi-join on the destination + one groupBy-min);
- converged when no label changes. Rounds needed = graph diameter,
  and near-dup clusters are dense blobs (diameter 2-4 in practice),
  so 5-10 rounds closes real corpora. ``max_iter`` bounds pathological
  chains; the large-star/small-star variant (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14) drops rounds to
  O(log^2 n) for adversarial graphs and slots in here unchanged if a
  workload ever needs it.

Scale notes: the edge list is cached once (it is re-joined every
round); each round's labels are ``localCheckpoint``-ed to truncate the
lineage -- without that, the plan doubles per iteration and Catalyst
analysis time explodes long before data size matters. The convergence
check is a count() action per round, which also materializes the
checkpoint.

Reference parity: the reference's opaque engine box (Untitled
Diagram.drawio:153-154) has no dedup story; this is part of the
[C] dedup mandate (BASELINE.json:6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import cached, checkpoint


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 25) -> DataFrame:
    """Label-propagation connected components.

    ``pairs`` is an undirected edge list (each pair once, any order).
    Returns one row per node that appears in ``pairs``:
    ``(node, component)`` where ``component`` is the min node id in the
    node's component -- deterministic, so oracle-checkable.
    """
    e = pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    edges = (
        e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
    )
    labels = edges.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("component")
    )

    with cached(edges):
        for _ in range(max_iter):
            # Change detection rides the SAME aggregation that computes the
            # new labels: self rows are tagged, so min-over-tagged recovers
            # the previous label without the extra labels-vs-new join (and
            # its shuffle) a separate comparison pass would cost per round.
            neigh = (
                edges.join(labels, edges["d"] == labels["node"])
                .select(edges["s"].alias("node"), "component",
                        F.lit(0).alias("is_self"))
            )
            # LAZY checkpoint: the convergence count below materializes
            # the round's labels AND answers the changed-row question in
            # ONE job (eager=True spent a separate job on the same pass
            # every round -- the operators/ranking.py fusion move).
            merged = checkpoint(
                labels.withColumn("is_self", F.lit(1))
                .union(neigh)
                .groupBy("node")
                .agg(
                    F.min("component").alias("component"),
                    F.min(F.when(F.col("is_self") == 1, F.col("component")))
                    .alias("prev"),
                ),
                eager=False,
            )
            changed = merged.filter(
                F.col("component") != F.col("prev")).count()
            labels = merged.select("node", "component")
            if changed == 0:
                break

    return labels


def canonical_per_component(components: DataFrame) -> DataFrame:
    """Annotate a components map with cluster size and the keep flag
    (canonical = the min-id member, which IS the component label).

    Size comes from a groupBy + equi-join rather than a
    count-over-window: a window partitioned by component serializes
    each cluster through one task, and a pathological mega-cluster
    (boilerplate dup islands) would funnel; the aggregate join
    distributes on the same key with map-side partial counts."""
    sizes = components.groupBy("component").agg(
        F.count("*").alias("cluster_size"))
    return (
        components.join(sizes, "component")
        .withColumn("keep", F.col("node") == F.col("component"))
        .select("node", "component", "cluster_size", "keep")
    )
