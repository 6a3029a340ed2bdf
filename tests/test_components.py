"""Unit tests for the connected-components label-propagation operator.

The oracle-parity test covers the end-to-end documents clustering query;
these cover the operator itself on graphs with known components,
including the worst case for label propagation (a long chain, where
rounds-to-converge equals the chain length).
"""

from __future__ import annotations

import pytest

from dataingestionengineprocess_spark.operators.components import (
    canonical_per_component,
    connected_components,
)


def _components(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    rows = connected_components(df, "id_a", "id_b", **kw).collect()
    return {r["node"]: r["component"] for r in rows}


def test_two_triangles_and_a_bridge_pair(spark):
    got = _components(
        spark,
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (20, 21)],
    )
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_chain_converges_to_min_label(spark):
    # 0-1-2-...-9: single component, diameter 9 (worst case for
    # min-label propagation -- exercises the iteration loop).
    got = _components(spark, [(i, i + 1) for i in range(9)])
    assert got == {i: 0 for i in range(10)}


def test_pair_order_is_irrelevant(spark):
    # Edges given "backwards" (bigger id first) must not change labels.
    assert _components(spark, [(5, 3), (3, 1)]) == {1: 1, 3: 1, 5: 1}


def test_canonical_annotation(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
    cc = connected_components(df, "id_a", "id_b")
    rows = {r["node"]: r for r in canonical_per_component(cc).collect()}
    assert rows[1]["keep"] and rows[1]["cluster_size"] == 3
    assert not rows[2]["keep"] and not rows[3]["keep"]
    assert rows[10]["keep"] and rows[10]["cluster_size"] == 2
    assert not rows[11]["keep"]


def test_failed_iteration_releases_the_edge_cache(spark, monkeypatch):
    """An iteration that fails (here: its label checkpoint raises)
    leaves the session cache manager as it found it."""
    def _fail(self, *a, **k):
        raise RuntimeError("injected iteration failure")

    df = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    spark.catalog.clearCache()
    jcm = spark._jsparkSession.sharedState().cacheManager()
    # patch the concrete class: pyspark.sql.DataFrame is its abstract base
    monkeypatch.setattr(type(df), "localCheckpoint", _fail)
    with pytest.raises(RuntimeError, match="injected"):
        connected_components(df, "id_a", "id_b")
    assert jcm.isEmpty()
