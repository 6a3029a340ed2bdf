"""Scalar-function surface (``scalar_``): string / date / math / conditional /
JSON / XML / map / array / variant + higher-order functions.

SURVEY.md §2.7. Everything stays JVM-side (whole-stage codegen) --
no Python UDFs anywhere in this module. Array math is done after an
element-wise cast to double so both engines fold identical doubles in
identical order (embedding is float32 on disk; float accumulation
order would otherwise differ in the last ulps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, SparkSession

from ..catalog import load
from . import register


_STRING_ORACLE = """
SELECT c_custkey,
       concat(c_mktsegment, ':', c_name)                      AS seg_name,
       substring(c_name, 1, 8)                                AS name_prefix,
       upper(c_mktsegment)                                    AS seg_upper,
       lower(c_name)                                          AS name_lower,
       trim(concat('  ', c_name, '  '))                       AS name_trimmed,
       lpad(CAST(c_nationkey AS VARCHAR), 4, '0')             AS nation_padded,
       regexp_extract(c_name, '([0-9]+)', 1)                  AS digits,
       regexp_replace(c_name, '[0-9]', '#', 'g')              AS masked,
       length(c_name)                                         AS name_len,
       CAST(split_part(c_name, '#', 2) AS BIGINT)             AS cust_num
FROM customer
WHERE c_custkey < 500
"""


@register("scalar_string_funcs", oracle=_STRING_ORACLE)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 500)
        .select(
            "c_custkey",
            F.concat("c_mktsegment", F.lit(":"), "c_name").alias("seg_name"),
            F.substring("c_name", 1, 8).alias("name_prefix"),
            F.upper("c_mktsegment").alias("seg_upper"),
            F.lower("c_name").alias("name_lower"),
            F.trim(F.concat(F.lit("  "), "c_name", F.lit("  "))).alias("name_trimmed"),
            F.lpad(F.col("c_nationkey").cast("string"), 4, "0").alias("nation_padded"),
            F.regexp_extract("c_name", r"([0-9]+)", 1).alias("digits"),
            F.regexp_replace("c_name", r"[0-9]", "#").alias("masked"),
            F.length("c_name").cast("long").alias("name_len"),
            F.split("c_name", "#").getItem(1).cast("long").alias("cust_num"),
        )
    )


_DATE_ORACLE = """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE)                       AS order_date,
       date_trunc('month', o_orderdate)                AS order_month,
       CAST(year(o_orderdate) AS INT)                  AS order_year,
       CAST(month(o_orderdate) AS INT)                 AS order_mon,
       CAST(day(o_orderdate) AS INT)                   AS order_day,
       CAST(quarter(o_orderdate) AS INT)               AS order_qtr,
       CAST(o_orderdate AS DATE) + INTERVAL 30 DAY     AS due_date,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_y2k,
       CAST(epoch(o_orderdate) AS BIGINT)              AS epoch_s
FROM orders
WHERE o_orderkey < 2000
"""


@register("scalar_date_funcs", oracle=_DATE_ORACLE)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.col("o_orderdate").cast("date")
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select(
            "o_orderkey",
            d.alias("order_date"),
            F.date_trunc("month", "o_orderdate").alias("order_month"),
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_mon"),
            F.dayofmonth("o_orderdate").cast("int").alias("order_day"),
            F.quarter("o_orderdate").cast("int").alias("order_qtr"),
            F.date_add(d, 30).cast("timestamp").alias("due_date"),
            F.datediff(F.lit("2000-01-01").cast("date"), d).cast("long").alias("days_to_y2k"),
            F.unix_timestamp("o_orderdate").alias("epoch_s"),
        )
    )


_MATH_ORACLE = """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice, 0)                       AS price_round,
       abs(l_discount - 0.05)                          AS disc_dev,
       CAST(floor(l_quantity / 7) AS BIGINT)           AS qty_bucket,
       CAST(ceil(l_extendedprice / 1000) AS BIGINT)    AS price_kbucket,
       round(pow(l_quantity, 2), 2)                    AS qty_sq,
       round(ln(l_extendedprice), 6)                   AS price_ln,
       round(sqrt(l_quantity), 6)                      AS qty_sqrt,
       CAST(l_quantity AS BIGINT) % 5                  AS qty_mod
FROM lineitem
WHERE l_orderkey < 300
"""


@register("scalar_math_funcs", oracle=_MATH_ORACLE)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 300)
        .select(
            "l_orderkey", "l_linenumber",
            F.round("l_extendedprice", 0).alias("price_round"),
            F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
            F.floor(F.col("l_quantity") / 7).alias("qty_bucket"),
            F.ceil(F.col("l_extendedprice") / 1000).alias("price_kbucket"),
            F.round(F.pow("l_quantity", F.lit(2)), 2).alias("qty_sq"),
            F.round(F.log(F.col("l_extendedprice")), 6).alias("price_ln"),
            F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
            (F.col("l_quantity").cast("long") % 5).alias("qty_mod"),
        )
    )


_COND_ORACLE = """
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN 'debt'
            WHEN c_acctbal < 3000 THEN 'low'
            WHEN c_acctbal < 7000 THEN 'mid'
            ELSE 'high' END                            AS bal_band,
       coalesce(nullif(c_mktsegment, 'BUILDING'), 'REDACTED') AS seg_masked,
       CASE WHEN c_acctbal > 0 THEN round(c_acctbal, 2) END   AS pos_bal
FROM customer
"""


@register("scalar_conditional", oracle=_COND_ORACLE)
def scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    bal = F.col("c_acctbal")
    return (
        load(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            F.when(bal < 0, "debt")
            .when(bal < 3000, "low")
            .when(bal < 7000, "mid")
            .otherwise("high")
            .alias("bal_band"),
            F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("REDACTED"))
            .alias("seg_masked"),
            F.when(bal > 0, F.round(bal, 2)).alias("pos_bal"),
        )
    )


_JSON_ORACLE = """
SELECT event_id, event_type,
       json_extract_string(props, '$.k')            AS k_str,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
       CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket
FROM events
WHERE event_type IN ('purchase', 'error')
"""


@register("scalar_json_funcs", oracle=_JSON_ORACLE)
def scalar_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.get_json_object("props", "$.k")
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "error"))
        .select(
            "event_id", "event_type",
            k.alias("k_str"),
            k.cast("long").alias("k_int"),
            (k.cast("long") % 10).alias("k_bucket"),
        )
    )


_MAP_ORACLE = """
SELECT event_id, 'k' AS prop_key,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_value
FROM events
WHERE event_id < 2000
"""


@register("scalar_map_explode", oracle=_MAP_ORACLE)
def scalar_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    parsed = ev.select(
        "event_id",
        F.from_json("props", "map<string,bigint>").alias("props_map"),
    )
    return parsed.select(
        "event_id", F.explode("props_map").alias("prop_key", "prop_value")
    )


_ARRAY_ORACLE = """
SELECT vec_id,
       len(embedding)                                              AS dim,
       round(CAST(embedding[1] AS DOUBLE), 6)                      AS first_val,
       round(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)), 6) AS sq_norm,
       round(list_sum(list_transform(embedding::DOUBLE[], x -> abs(x))), 6) AS l1_norm,
       len(list_filter(embedding::DOUBLE[], x -> x > 0))           AS n_positive,
       round(list_max(embedding::DOUBLE[]), 6)                     AS max_val
FROM embeddings
WHERE vec_id < 1000
"""


@register("scalar_array_funcs", oracle=_ARRAY_ORACLE)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 1000)
        .select(
            "vec_id",
            F.size("embedding").cast("long").alias("dim"),
            F.round(F.element_at(emb, 1), 6).alias("first_val"),
            F.round(
                F.aggregate(F.transform(emb, lambda x: x * x), F.lit(0.0),
                            lambda acc, x: acc + x), 6
            ).alias("sq_norm"),
            F.round(
                F.aggregate(F.transform(emb, F.abs), F.lit(0.0),
                            lambda acc, x: acc + x), 6
            ).alias("l1_norm"),
            F.size(F.filter(emb, lambda x: x > 0)).cast("long").alias("n_positive"),
            F.round(F.array_max(emb), 6).alias("max_val"),
        )
    )


_HOF_ORACLE = """
WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
SELECT vec_id,
       CAST(len(list_filter(e, x -> x > 0)) AS INT)  AS n_pos,
       round(list_sum(list_transform(e, x -> abs(x))), 5) AS l1_norm,
       round(list_max(list_transform(e, x -> abs(x))), 6) AS linf_norm,
       round(list_sum(list_transform(range(1, 33), i -> e[i] * e[i + 32])), 5) AS half_dot,
       len(list_filter(e, x -> abs(x) > 0.3)) > 0    AS has_large,
       len(list_filter(e, x -> NOT isfinite(x))) = 0 AS all_finite
FROM t
"""


@register("scalar_higher_order_funcs", oracle=_HOF_ORACLE)
def scalar_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = F.transform("embedding", lambda x: x.cast("double"))
    absd = F.transform(emb, lambda x: F.abs(x))
    fold_sum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, x: acc + x
    )
    half_dot = fold_sum(
        F.zip_with(F.slice(emb, 1, 32), F.slice(emb, 33, 32), lambda a, b: a * b)
    )
    return (
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.size(F.filter(emb, lambda x: x > 0)).alias("n_pos"),
            F.round(fold_sum(absd), 5).alias("l1_norm"),
            F.round(F.array_max(absd), 6).alias("linf_norm"),
            F.round(half_dot, 5).alias("half_dot"),
            F.exists(emb, lambda x: F.abs(x) > 0.3).alias("has_large"),
            F.forall(emb, lambda x: ~F.isnan(x)).alias("all_finite"),
        )
    )


_VARIANT_ORACLE = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
       CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("scalar_variant_funcs", oracle=_VARIANT_ORACLE)
def scalar_variant_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
        .orderBy("event_type")
    )


_TRY_ORACLE = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 10 = 0 THEN NULL
            ELSE floor(o_totalprice / (o_orderkey % 10) * 10000) / 10000 END AS price_per,
       try_cast(o_orderpriority AS DOUBLE)                      AS prio_num,
       try_cast(substring(o_orderpriority, 1, 1) AS BIGINT)     AS prio_rank
FROM orders
WHERE o_orderkey <= 2000
"""


@register("scalar_try_funcs", oracle=_TRY_ORACLE)
def scalar_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select(
            "o_orderkey",
            (F.floor(
                F.try_divide("o_totalprice", F.col("o_orderkey") % 10) * 10000
            ) / 10000).alias("price_per"),
            F.try_to_number("o_orderpriority", F.lit("999")).cast("double")
            .alias("prio_num"),
            F.substring("o_orderpriority", 1, 1).try_cast("bigint")
            .alias("prio_rank"),
        )
    )


_STRING_ADV_ORACLE = """
SELECT p_partkey,
       translate(p_name, 'aeiou', 'AEIOU') AS vowels_up,
       split_part(p_name, ' ', 1)          AS first_word,
       repeat(p_brand, 2)                  AS brand_twice,
       reverse(p_name)                     AS name_rev,
       ascii(p_name)                       AS first_ascii,
       CAST(strpos(p_name, 'a') AS INT)    AS a_pos,
       left(p_name, 3)                     AS name_l3,
       right(p_name, 3)                    AS name_r3
FROM part WHERE p_partkey <= 500
"""


@register("scalar_string_advanced", oracle=_STRING_ADV_ORACLE)
def scalar_string_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    return p.select(
        "p_partkey",
        F.translate("p_name", "aeiou", "AEIOU").alias("vowels_up"),
        F.substring_index("p_name", " ", 1).alias("first_word"),
        F.repeat("p_brand", 2).alias("brand_twice"),
        F.reverse("p_name").alias("name_rev"),
        F.ascii("p_name").alias("first_ascii"),
        F.instr("p_name", "a").alias("a_pos"),
        F.substring("p_name", 1, 3).alias("name_l3"),
        F.right("p_name", F.lit(3)).alias("name_r3"),
    )


_DATE_ADV_ORACLE = """
SELECT o_orderkey,
       last_day(CAST(o_orderdate AS DATE))               AS month_end,
       CAST(extract(week FROM o_orderdate) AS INT)       AS iso_week,
       CAST(extract(doy FROM o_orderdate) AS INT)        AS day_of_year,
       CAST(extract(quarter FROM o_orderdate) AS INT)    AS qtr,
       CAST(date_diff('month', DATE '1994-01-01',
            date_trunc('month', CAST(o_orderdate AS DATE))) AS BIGINT)
         AS months_since_94,
       make_date(CAST(extract(year FROM o_orderdate) AS INT),
                 CAST(extract(month FROM o_orderdate) AS INT),
                 CAST(extract(day FROM o_orderdate) AS INT))
         AS rebuilt_date
FROM orders WHERE o_orderkey <= 1000
"""


@register("scalar_date_advanced", oracle=_DATE_ADV_ORACLE)
def scalar_date_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.last_day(d).alias("month_end"),
        F.weekofyear(d).alias("iso_week"),
        F.dayofyear(d).alias("day_of_year"),
        F.quarter(d).alias("qtr"),
        F.months_between(
            F.date_trunc("month", d), F.lit("1994-01-01").cast("date")
        ).cast("long").alias("months_since_94"),
        F.make_date(F.year(d), F.month(d), F.dayofmonth(d))
        .alias("rebuilt_date"),
    )


_MAP_HOF_ORACLE = """
SELECT event_id,
       k,
       3 * k + 2  AS sum_plus_one,
       CAST((CASE WHEN k > 50 THEN 1 ELSE 0 END)
          + (CASE WHEN 2 * k > 50 THEN 1 ELSE 0 END) AS INT) AS n_over_50,
       11 * k     AS zipped_base
FROM (
  SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events WHERE event_id <= 300
)
"""


@register("scalar_map_higher_order", oracle=_MAP_HOF_ORACLE)
def scalar_map_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") <= 300)
    k = F.get_json_object("props", "$.k").cast("long")
    m = F.create_map(
        F.lit("base"), k, F.lit("double"), k * 2
    )
    plus_one = F.transform_values(m, lambda _, v: v + 1)
    sum_plus_one = F.aggregate(
        F.map_values(plus_one), F.lit(0).cast("long"), lambda a, x: a + x
    )
    n_over = F.size(F.map_filter(m, lambda _, v: v > 50))
    tens = F.create_map(F.lit("base"), F.lit(10).cast("long"))
    zipped = F.map_zip_with(
        m, tens,
        lambda _, v1, v2: v1 + F.coalesce(v2, F.lit(0)) * k,
    )
    return ev.select(
        "event_id",
        k.alias("k"),
        sum_plus_one.alias("sum_plus_one"),
        n_over.alias("n_over_50"),
        F.element_at(zipped, "base").alias("zipped_base"),
    )


_BITWISE_ORACLE = """
SELECT p_partkey,
       p_size & 12                  AS and_mask,
       p_size | 3                   AS or_low,
       xor(p_size, 21)              AS xor_21,
       p_size << 2                  AS shl2,
       p_size >> 1                  AS shr1,
       hex(p_size)                  AS size_hex
FROM part WHERE p_partkey <= 500
"""


@register("scalar_bitwise_funcs", oracle=_BITWISE_ORACLE)
def scalar_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    s = F.col("p_size")
    return p.select(
        "p_partkey",
        s.bitwiseAND(12).alias("and_mask"),
        s.bitwiseOR(3).alias("or_low"),
        s.bitwiseXOR(21).alias("xor_21"),
        F.shiftleft(s, 2).alias("shl2"),
        F.shiftright(s, 1).alias("shr1"),
        F.hex(s).alias("size_hex"),
    )


_URL_ORACLE = """
SELECT s_suppkey,
       'partner' || CAST(s_suppkey AS VARCHAR) || '.example.com' AS host,
       '/feeds/' || CAST(s_nationkey AS VARCHAR)                 AS path,
       'fmt=csv'                                                 AS query,
       CAST(s_suppkey AS VARCHAR)                                AS partner_id
FROM supplier
"""


@register("scalar_url_funcs", oracle=_URL_ORACLE)
def scalar_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    url = F.concat(
        F.lit("https://partner"), F.col("s_suppkey").cast("string"),
        F.lit(".example.com/feeds/"), F.col("s_nationkey").cast("string"),
        F.lit("?fmt=csv&pid="), F.col("s_suppkey").cast("string"),
    )
    return s.select(
        "s_suppkey",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.regexp_extract(F.parse_url(url, F.lit("QUERY")), "^(fmt=csv)", 1)
        .alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("pid")).alias("partner_id"),
    )


_EXPLODE_OUTER_ORACLE = """
SELECT d.doc_id, u.long_token
FROM (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 8)
           AS toks
  FROM documents WHERE doc_id <= 200
) d
LEFT JOIN LATERAL (SELECT unnest(d.toks) AS long_token) u ON TRUE
"""


@register("scalar_explode_outer", oracle=_EXPLODE_OUTER_ORACLE)
def scalar_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    long_toks = F.filter(
        F.split("text", " "), lambda t: F.length(t) > 8
    )
    return d.select(
        "doc_id", F.explode_outer(long_toks).alias("long_token")
    )


_XML_ORACLE = """
SELECT o_orderkey AS order_id,
       o_orderstatus AS status,
       o_totalprice AS total,
       o_orderkey * 2 AS xpath_double_key
FROM orders
WHERE o_orderkey <= 500
"""


@register("scalar_xml_roundtrip", oracle=_XML_ORACLE)
def scalar_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    xml = F.format_string(
        "<order><key>%s</key><status>%s</status><total>%s</total></order>",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("string"),
    )
    parsed = F.from_xml(xml, "key BIGINT, status STRING, total DOUBLE")
    return o.select(
        parsed.getField("key").alias("order_id"),
        parsed.getField("status").alias("status"),
        parsed.getField("total").alias("total"),
        (F.xpath_long(xml, F.lit("/order/key")) * 2).alias("xpath_double_key"),
    )


_COLLATION_ORACLE = """
SELECT lower(p_brand) AS brand_ci, CAST(count(*) AS BIGINT) AS n_parts,
       round(sum(round(p_retailprice * 100)::BIGINT) / 100e0, 2) AS total_price
FROM part
GROUP BY brand_ci
"""


@register("scalar_collation_group", oracle=_COLLATION_ORACLE)
def scalar_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    ci = F.col("p_brand").cast("string collate UTF8_LCASE")
    return (
        p.groupBy(ci.alias("brand_ci"))
        .agg(
            F.count("*").alias("n_parts"),
            F.round(
                F.sum(F.round(F.col("p_retailprice") * 100).cast("long"))
                / 100.0, 2,
            ).alias("total_price"),
        )
        # surface the group key in the oracle's canonical (lower) form,
        # back in a binary-collated string so hashing sees plain utf8
        .select(
            F.lower(F.col("brand_ci")).cast("string").alias("brand_ci"),
            "n_parts", "total_price",
        )
    )


_STRUCT_ORACLE = """
WITH p AS (
  SELECT p_partkey, p_brand, p_size FROM part WHERE p_partkey <= 40
)
SELECT p_partkey, CAST(0 AS BIGINT) AS pos,
       p_brand AS brand_out,
       CAST(p_size AS BIGINT) AS size_out
FROM p
UNION ALL
SELECT p_partkey, CAST(1 AS BIGINT) AS pos,
       'ZZZ' AS brand_out,
       CAST(p_size + 1 AS BIGINT) AS size_out
FROM p
ORDER BY p_partkey, pos
"""


@register("scalar_struct_funcs", oracle=_STRUCT_ORACLE)
def scalar_struct_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct construct / getField / struct-array sort / posexplode:
    values routed through struct machinery, checked relationally."""
    p = load(spark, sf_dir, "part").where(F.col("p_partkey") <= 40)
    real = F.struct(F.col("p_brand").alias("brand"),
                    F.col("p_size").cast("long").alias("size"))
    sentinel = F.struct(F.lit("ZZZ").alias("brand"),
                        (F.col("p_size") + 1).cast("long").alias("size"))
    # array_sort on structs compares field-by-field: the real row
    # sorts ahead of the 'ZZZ' sentinel, pinning deterministic order
    arr = F.array_sort(F.array(sentinel, real))
    return (
        p.select("p_partkey", F.posexplode(arr).alias("pos", "st"))
        .select(
            "p_partkey", F.col("pos").cast("long").alias("pos"),
            F.col("st").getField("brand").alias("brand_out"),
            F.col("st").getField("size").alias("size_out"),
        )
        .orderBy("p_partkey", "pos")
    )
