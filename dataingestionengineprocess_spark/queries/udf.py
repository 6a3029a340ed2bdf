"""Python UDF surface (``udf_``, ``udtf_``; SURVEY.md §2.9): every custom-code
entry point the engine supports, each demonstrated on a fixture table
with an exact DuckDB oracle where the semantics are SQL-expressible.

All shapes are Arrow-batched (session.ENGINE_CONFS enables
``spark.sql.execution.arrow.pyspark.enabled``); none is a
row-at-a-time Python UDF. At 100 TB the cost model is: one Arrow
serialization round-trip per batch, pandas/numpy vector math inside —
10-100x faster than per-row pickling, but still a process boundary,
so these stay OUT of hot relational paths (which use pure built-ins;
see functions/vectors.py for the built-in cosine used by the
similarity queries).

| shape | primitive | query here |
| --- | --- | --- |
| vectorized scalar | ``pandas_udf`` Series→Series | udf_vectorized_cosine |
| grouped-map | ``groupBy().applyInPandas`` | udf_grouped_zscore |
| grouped-agg UDAF | ``pandas_udf`` GROUPED_AGG | udf_grouped_agg_weighted_price |
| UDTF (row fan-out) | ``mapInPandas`` yielding >1 row/input | udf_tokenize_fanout |
| Python UDTF | ``spark.udtf`` table function | udtf_bigram_top50 |
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, SparkSession
from pyspark.sql.functions import pandas_udf

from ..catalog import load
from . import register


_VCOS_ORACLE = """
WITH probe AS (
  SELECT embedding::DOUBLE[] AS q FROM embeddings
  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
)
SELECT vec_id,
       round(list_cosine_similarity(embedding::DOUBLE[], probe.q), 4)
         AS cos_sim
FROM embeddings, probe
"""


@register("udf_vectorized_cosine", oracle=_VCOS_ORACLE)
def udf_vectorized_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = load(spark, sf_dir, "embeddings")
    probe_row = (
        emb.orderBy("vec_id").select("embedding").limit(1).collect()[0]
    )
    probe = np.asarray(probe_row[0], dtype="float64")
    probe_norm = float(np.sqrt(probe @ probe))

    @pandas_udf("double")
    def cos_to_probe(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype("float64")
        dots = mat @ probe
        norms = np.sqrt((mat * mat).sum(axis=1))
        return pd.Series(dots / (norms * probe_norm))

    return emb.select(
        "vec_id", F.round(cos_to_probe("embedding"), 4).alias("cos_sim")
    )


# floor-based rounding on BOTH sides: the z-score is an arbitrary
# double quotient, where numpy's Series.round (half-to-even), Spark's
# round (shortest-repr half-up) and DuckDB's round (binary half-away)
# can all disagree at a .xx5 boundary -- floor(x*100 + 0.5)/100 is the
# same IEEE arithmetic everywhere (FIXTURES.md rounding notes).
_ZSCORE_ORACLE = """
SELECT c_custkey, c_nationkey,
       floor((c_acctbal - avg(c_acctbal) OVER w)
             / stddev_samp(c_acctbal) OVER w * 100 + 0.5) / 100
           AS bal_zscore
FROM customer
WINDOW w AS (PARTITION BY c_nationkey)
"""


@register("udf_grouped_zscore", oracle=_ZSCORE_ORACLE)
def udf_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        bal = pdf["c_acctbal"]
        z = (bal - bal.mean()) / bal.std(ddof=1)
        return pd.DataFrame(
            {
                "c_custkey": pdf["c_custkey"],
                "c_nationkey": pdf["c_nationkey"],
                "bal_zscore": np.floor(z * 100 + 0.5) / 100,
            }
        )

    return (
        load(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .applyInPandas(
            zscore, "c_custkey long, c_nationkey int, bal_zscore double"
        )
    )


_WAVG_ORACLE = """
SELECT l_returnflag,
       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 2)
         AS wavg_price
FROM lineitem
GROUP BY l_returnflag
"""


@register("udf_grouped_agg_weighted_price", oracle=_WAVG_ORACLE)
def udf_grouped_agg_weighted_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    @pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(wavg("l_extendedprice", "l_quantity"), 2)
            .alias("wavg_price")
        )
    )


_TOKENIZE_ORACLE = """
WITH s AS (SELECT doc_id, string_split(text, ' ') AS parts FROM documents)
SELECT doc_id,
       unnest(range(1, len(parts) + 1)) AS pos,
       unnest(parts) AS token
FROM s
"""


@register("udf_tokenize_fanout", oracle=_TOKENIZE_ORACLE)
def udf_tokenize_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    def fanout(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, poss, toks = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                tokens = text.split(" ")
                ids.extend([doc_id] * len(tokens))
                poss.extend(range(1, len(tokens) + 1))
                toks.extend(tokens)
            yield pd.DataFrame({"doc_id": ids, "pos": poss, "token": toks})

    from ..operators.skew import spread_input

    # spread: mapInPandas over a single-partition source runs in ONE
    # Python worker; the fan-out parallelizes cleanly
    return (
        spread_input(load(spark, sf_dir, "documents"))
        .select("doc_id", "text")
        .mapInPandas(fanout, "doc_id long, pos long, token string")
    )


_BIGRAM_ORACLE = """
SELECT bigram, count(*) AS n
FROM (
  SELECT unnest([array_to_string(t[i:i+1], ' ')
                 for i in range(1, len(t))]) AS bigram
  FROM (SELECT string_split(text, ' ') AS t FROM documents)
  WHERE len(t) >= 2
)
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 50
"""


@register("udtf_bigram_top50", oracle=_BIGRAM_ORACLE)
def udtf_bigram_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="bigram: string")
    class BigramUdtf:
        def eval(self, text: str):
            # split(' ') (not split()) to mirror string_split semantics
            toks = text.split(" ") if text is not None else []
            for i in range(len(toks) - 1):
                yield (toks[i] + " " + toks[i + 1],)

    spark.udtf.register("bigram_udtf", BigramUdtf)
    docs = load(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT t.bigram, count(*) AS n
        FROM __udtf_docs d, LATERAL bigram_udtf(d.text) t
        GROUP BY t.bigram
        ORDER BY n DESC, bigram
        LIMIT 50
        """
    )


_ARROW_NORM_ORACLE = """
SELECT vec_id,
       round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4)
         AS l2_norm,
       CAST(len(embedding) AS INT) AS dim
FROM embeddings
"""


@register("udf_arrow_vector_norms", oracle=_ARROW_NORM_ORACLE)
def udf_arrow_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")

    def norms(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0)
            vecs = batch.column(1)
            flat = vecs.flatten().to_numpy(zero_copy_only=False)
            dims = np.diff(vecs.offsets.to_numpy(zero_copy_only=False))
            assert (dims == dims[0]).all(), "fixture vectors are fixed-dim"
            mat = flat.astype("float64").reshape(-1, int(dims[0]))
            l2 = np.sqrt((mat * mat).sum(axis=1))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(l2, type=pa.float64()),
                 pa.array(dims.astype("int32"))],
                ["vec_id", "l2_norm", "dim"],
            )

    out = emb.select("vec_id", "embedding").mapInArrow(
        norms, "vec_id long, l2_norm double, dim int"
    )
    return out.select(
        "vec_id", F.round("l2_norm", 4).alias("l2_norm"), "dim"
    )
