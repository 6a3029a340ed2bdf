"""Tiny fixture tables for query tests.

Each writer stores ``rows`` as ``<tmp_path>/<table>.parquet`` and
returns ``str(tmp_path)``, the ``sf_dir`` a registered query reads the
table from (``catalog.load(spark, sf_dir, table)``). Timestamp and date
columns arrive as strings and are parsed before the write.
"""

from __future__ import annotations

from pyspark.sql import functions as F

DOCUMENTS_DDL = ("doc_id long, text string, lang string, source string, "
                 "n_chars long")
EVENTS_DDL = ("event_id long, ts string, user_id long, event_type string, "
              "value double, props string")
EMBEDDINGS_DDL = "vec_id long, embedding array<float>, label int"
ORDERS_DDL = ("o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate string, "
              "o_orderpriority string")
LINEITEM_DDL = ("l_orderkey long, l_partkey long, l_suppkey long, "
                "l_linenumber int, l_quantity double, "
                "l_extendedprice double, l_discount double, l_tax double, "
                "l_returnflag string, l_linestatus string, l_shipdate string")


def write_table(spark, tmp_path, table, rows, schema,
                timestamps=(), dates=()) -> str:
    df = spark.createDataFrame(rows, schema)
    for c in timestamps:
        df = df.withColumn(c, F.to_timestamp(c))
    for c in dates:
        df = df.withColumn(c, F.to_date(c))
    df.write.mode("overwrite").parquet(str(tmp_path / f"{table}.parquet"))
    return str(tmp_path)


def write_documents(spark, tmp_path, rows) -> str:
    return write_table(spark, tmp_path, "documents", rows, DOCUMENTS_DDL)


def write_events(spark, tmp_path, rows) -> str:
    return write_table(spark, tmp_path, "events", rows, EVENTS_DDL,
                       timestamps=["ts"])


def write_embeddings(spark, tmp_path, rows) -> str:
    return write_table(spark, tmp_path, "embeddings", rows, EMBEDDINGS_DDL)


def write_orders(spark, tmp_path, rows) -> str:
    return write_table(spark, tmp_path, "orders", rows, ORDERS_DDL,
                       timestamps=["o_orderdate"])


def write_lineitem(spark, tmp_path, rows) -> str:
    return write_table(spark, tmp_path, "lineitem", rows, LINEITEM_DDL,
                       timestamps=["l_shipdate"])
