"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in ``dataingestionengineprocess_spark``; this
module is a thin adapter over its query registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dataingestionengineprocess_spark import queries as _registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001.

    Resolved via ``all_queries()`` rather than a direct module import:
    importing ``queries.tpch`` here would register its queries ahead of
    ``_load_all``'s module order (queries/__init__.py), the tie-break
    of the registry order that decides which queries fill the
    CORRECTNESS window — regardless of whether the driver calls
    ``entry`` or ``queries`` first.
    """
    return _registry.all_queries()["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _registry.all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query."""
    return _registry.all_oracles()
