"""JSON-lines landing-zone source (SURVEY.md §2.1 S4 as a file
source; `from_json` over embedded columns is the in-row variant, see
queries/scalar.py).

Same contract as the CSV source: explicit schema (no inference pass),
PERMISSIVE parse with `_corrupt_record` routing, lineage column.
Scale: JSON-lines splits by newline so big files parallelize; a
schema-inferred read would scan everything twice and drift between
deliveries.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .csv_source import (
    CORRUPT_COL,
    CsvBatch,
    split_corrupt_records,
    with_corrupt_col,
)


def read_json_feed(spark: SparkSession, path: str, schema: T.StructType,
                   source_file_col: str = "_source_file") -> CsvBatch:
    """Read a JSON-lines drop with schema enforcement; malformed lines
    land in rejects with the raw text preserved."""
    # a re-dropped file reuses its path: invalidate any cached plan
    # for it or the read below serves the PREVIOUS drop's cached rows
    spark.catalog.refreshByPath(path)
    parsed = (
        spark.read.schema(with_corrupt_col(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    return split_corrupt_records(parsed, source_file_col)
