"""CSV landing-zone source with malformed-row routing.

Reference: "DataPartner placing .csv file into S3" (Untitled
Diagram.drawio:201) and the Lambda-watched landing prefix (:150-151).
Spark-native: an explicit StructType per feed (no inferSchema -- a
schema inference pass reads the data twice and types drift between
deliveries), PERMISSIVE parse mode with a ``_corrupt_record`` column,
and a clean/rejects split (S1 + S9).

Scale: the CSV scan parallelizes by file split; rejects routing is a
narrow filter on the already-parsed batch -- no second parse.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

CORRUPT_COL = "_corrupt_record"


@dataclass
class CsvBatch:
    """Parsed landing-zone batch, split into clean and rejected rows.

    ``source`` is the cached parse frame both splits derive from (set
    in PERMISSIVE mode only); callers unpersist it once the batch's
    writes finish -- a long-running ingest loop would otherwise
    accumulate one CacheManager entry (and its spilled blocks) per
    batch for the life of the session."""
    clean: DataFrame
    rejects: DataFrame
    source: DataFrame | None = None

    def unpersist(self) -> None:
        if self.source is not None:
            self.source.unpersist()


def with_corrupt_col(schema: T.StructType) -> T.StructType:
    """``schema`` plus the nullable string CORRUPT_COL a PERMISSIVE
    parse fills with the raw text of each row that fails it."""
    return T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
    )


def csv_reader(reader, schema: T.StructType, header: bool = True,
               mode: str = "PERMISSIVE",
               timestamp_format: str | None = None):
    """``reader`` (``spark.read`` or ``spark.readStream``) set up for a
    feed's CSV: the explicit schema, ``mode``'s malformed-row policy
    with parse failures kept in CORRUPT_COL when the schema declares
    it (the option is inert otherwise), and the feed's timestamp
    format. Batch and streaming ingest parse through this one chain,
    so a feed option cannot reach one of them only."""
    reader = (
        reader.schema(schema)
        .option("header", header)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader


def split_corrupt_records(parsed: DataFrame,
                          source_file_col: str = "_source_file") -> CsvBatch:
    """Split a PERMISSIVE parse (its schema ends in CORRUPT_COL) into
    clean rows and rejects, each carrying the originating file.

    The file name is stamped BEFORE the cache: ``input_file_name()``
    evaluated over the cached rows returns ''. The cache itself is the
    PERMISSIVE quirk -- corrupt-record access needs materialized parse
    results -- and keeps the split to one scan."""
    df = parsed.withColumn(source_file_col, F.input_file_name()).cache()
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    rejects = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_record"), F.col(source_file_col)
    )
    return CsvBatch(clean=clean, rejects=rejects, source=df)


def read_csv_feed(spark: SparkSession, path: str | list[str],
                  schema: T.StructType,
                  header: bool = True, timestamp_format: str | None = None,
                  source_file_col: str = "_source_file",
                  mode: str = "PERMISSIVE") -> CsvBatch:
    """Read a partner CSV drop with schema enforcement.

    `mode` selects the malformed-row policy (all three Spark CSV modes):

    - PERMISSIVE (default): parse failures land in the rejects frame
      with the raw line preserved (the reference's implicit "bad file"
      handling made explicit, S9);
    - DROPMALFORMED: bad rows silently dropped (rejects is empty) --
      for feeds where quarantine is someone else's job;
    - FAILFAST: any bad row aborts the batch -- for contracts where a
      partial load is worse than no load.

    The originating file name is attached so re-drops and per-partner
    lineage are traceable.
    """
    if mode not in ("PERMISSIVE", "DROPMALFORMED", "FAILFAST"):
        raise ValueError(f"unknown CSV mode {mode!r}")
    # A re-dropped file reuses its path: invalidate any cached plan /
    # file listing for these paths, or the new read silently serves the
    # PREVIOUS drop's cached rows (the PERMISSIVE split's cache
    # registers by path-keyed plan in the session CacheManager).
    for p in (path if isinstance(path, list) else [path]):
        spark.catalog.refreshByPath(p)
    permissive = mode == "PERMISSIVE"
    df = csv_reader(
        spark.read, with_corrupt_col(schema) if permissive else schema,
        header, mode, timestamp_format,
    ).csv(path)
    if permissive:
        return split_corrupt_records(df, source_file_col)
    empty_rejects = local_frame(spark, [], T.StructType([
        T.StructField("raw_record", T.StringType()),
        T.StructField(source_file_col, T.StringType()),
    ]))
    return CsvBatch(
        clean=df.withColumn(source_file_col, F.input_file_name()),
        rejects=empty_rejects,
    )


def read_csv_feed_by_name(spark: SparkSession, path: str,
                          schema: T.StructType, header: bool = True,
                          timestamp_format: str | None = None,
                          source_file_col: str = "_source_file") -> CsvBatch:
    """Header-aware variant of `read_csv_feed` for SCHEMA DRIFT: the
    positional reader silently mis-parses a drop whose partner
    reordered columns or appended new ones. Here the file's own header
    names the columns; declared columns are selected BY NAME (any
    order, extra columns ignored) and cast to the declared types.

    Contract violations:
    - a declared column missing from the header -> ValueError (the
      whole file fails its contract; reject the drop, not the rows);
    - a cell that won't cast to its declared type -> that row routes
      to rejects with the raw values preserved (try_cast semantics --
      ANSI-safe under Spark 4's default ANSI mode).

    Limitation (CSV semantics): a STRUCTURALLY short row (fewer cells
    than the header) parses as NULLs in the file's trailing columns
    and is indistinguishable from legitimately empty cells, so it
    lands in `clean` with NULLs rather than in rejects. Feeds whose
    contract forbids empty cells should pair this reader with
    `quality.not_null` rules (the positional `read_csv_feed` flags
    such rows via _corrupt_record instead).

    Scale: same single parallel scan as the positional reader; the
    by-name projection and casts are map-only.
    """
    spark.catalog.refreshByPath(path)  # re-drop guard, as in read_csv_feed
    raw = (
        spark.read.option("header", header).csv(path)
        .withColumn(source_file_col, F.input_file_name())
    )
    missing = [f.name for f in schema.fields if f.name not in raw.columns]
    if missing:
        raise ValueError(
            f"feed contract violation: header lacks declared columns "
            f"{missing}; file columns: "
            f"{[c for c in raw.columns if c != source_file_col]}"
        )

    def cast_col(f: T.StructField):
        c = F.col(f.name)
        if isinstance(f.dataType, T.TimestampType) and timestamp_format:
            return F.try_to_timestamp(c, F.lit(timestamp_format)).alias(f.name)
        return c.try_cast(f.dataType).alias(f.name)

    casted = raw.select(
        *[cast_col(f) for f in schema.fields],
        *[F.col(f.name).alias(f"__raw_{f.name}") for f in schema.fields],
        source_file_col,
    )
    # a row is rejected iff some cell was PRESENT but failed its cast
    bad = None
    for f in schema.fields:
        this = F.col(f"__raw_{f.name}").isNotNull() & F.col(f.name).isNull()
        bad = this if bad is None else (bad | this)
    casted = casted.cache()
    clean = casted.filter(~F.coalesce(bad, F.lit(False))).select(
        *[f.name for f in schema.fields], source_file_col
    )
    rejects = casted.filter(F.coalesce(bad, F.lit(False))).select(
        F.concat_ws(",", *[
            F.coalesce(F.col(f"__raw_{f.name}"), F.lit(""))
            for f in schema.fields
        ]).alias("raw_record"),
        F.col(source_file_col),
    )
    return CsvBatch(clean=clean, rejects=rejects, source=casted)
