"""Scalar-function queries (SURVEY §2.8): string, date/time, math, JSON
(`events.props`), and array functions — the reference delegates all of this
to user pandas closures (``/root/reference/dataframe/core.py:253-256``);
here it's the native `pyspark.sql.functions` surface, whole-stage codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lithops_dataframe_spark.catalog import load_table
from lithops_dataframe_spark.plans.registry import register


@register(
    "scalar_string_funcs",
    oracle="""
    SELECT p_partkey,
           UPPER(p_brand)                          AS brand_upper,
           LOWER(p_type)                           AS type_lower,
           LENGTH(p_name)                          AS name_len,
           SUBSTRING(p_name, 1, 5)                 AS name_prefix,
           CONCAT(p_brand, ':', p_type)            AS brand_type,
           REPLACE(p_brand, 'Brand#', 'B')         AS brand_short,
           REGEXP_EXTRACT(p_brand, '([0-9]+)', 1)  AS brand_num,
           TRIM(p_name)                            AS name_trim,
           SPLIT_PART(p_type, ' ', 1)              AS type_first_word
    FROM part
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_brand", "Brand#", "B").alias("brand_short"),
        F.regexp_extract("p_brand", "([0-9]+)", 1).alias("brand_num"),
        F.trim("p_name").alias("name_trim"),
        F.split_part("p_type", F.lit(" "), F.lit(1)).alias("type_first_word"),
    )


@register(
    "scalar_date_funcs",
    oracle="""
    SELECT o_orderkey,
           EXTRACT(year FROM o_orderdate)::INT     AS yr,
           EXTRACT(month FROM o_orderdate)::INT    AS mon,
           EXTRACT(day FROM o_orderdate)::INT      AS dom,
           CAST(DATE_TRUNC('month', o_orderdate) AS DATE)  AS month_start,
           DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))::INT AS days_since_epoch_start,
           CAST(o_orderdate AS DATE) + INTERVAL 30 DAY     AS due_ts
    FROM orders WHERE o_orderkey <= 2000
    """,
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mon"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch_start"
        ),
        (F.col("o_orderdate").cast("date") + F.expr("INTERVAL 30 DAYS")).cast("timestamp").alias("due_ts"),
    )


@register(
    "scalar_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(ABS(l_discount - 0.05), 4)      AS abs_disc,
           CAST(FLOOR(l_quantity / 7) AS BIGINT) AS qty_bucket,
           CAST(CEIL(l_extendedprice / 1000) AS BIGINT) AS price_k,
           ROUND(SQRT(l_quantity), 6)            AS qty_sqrt,
           ROUND(POW(1 + l_tax, 2), 6)           AS tax_sq,
           ROUND(LN(l_extendedprice), 6)         AS price_ln,
           CAST(SIGN(l_discount - 0.05) AS DOUBLE) AS disc_sign
    FROM lineitem WHERE l_orderkey <= 1000
    """,
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("abs_disc"),
        F.floor(F.col("l_quantity") / 7).alias("qty_bucket"),
        F.ceil(F.col("l_extendedprice") / 1000).alias("price_k"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.pow(1 + F.col("l_tax"), 2), 6).alias("tax_sq"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
    )


@register(
    "scalar_json_events",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, 'k') AS INT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, 'k') AS INT)) AS min_k,
           MAX(CAST(json_extract_string(props, 'k') AS INT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def scalar_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # events.props is a JSON string like {"k": 87} (FIXTURES.md) —
    # from_json with an explicit schema, never schema_of_json per row.
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("k", F.from_json("props", "k INT").getField("k"))
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


@register(
    "scalar_variant_props",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, 'k') AS INT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n_missing_null
    FROM events GROUP BY event_type
    """,
)
def scalar_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured data: parse_json → open
    variant binary, variant_get with a typed path for extraction,
    try_variant_get returning NULL (not an error) for absent paths —
    the shredding-friendly encoding that replaces per-row JSON string
    re-parsing at scale. Numbers must match the JSON-string oracle."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.withColumn("v", F.parse_json("props"))
    # try_variant_get on a missing path must be NULL for every row (never
    # an error) → counting those nulls reproduces COUNT(*)
    missing = F.try_variant_get(F.col("v"), "$.absent", "int")
    return v.groupBy("event_type").agg(
        F.sum(F.variant_get(F.col("v"), "$.k", "int")).alias("sum_k"),
        F.count(F.when(missing.isNull(), 1)).alias("n_missing_null"),
    )


@register(
    "scalar_map_funcs",
    oracle="""
    WITH m AS (
        SELECT event_id,
               MAP {'t': event_type, 'u': CAST(user_id AS VARCHAR)} AS props_map
        FROM events WHERE event_id < 100
    )
    SELECT event_id,
           map_extract(props_map, 't')[1] AS t_val,
           cardinality(props_map)::INT AS n_keys,
           array_to_string(list_sort(map_keys(props_map)), ',') AS keys_sorted
    FROM m
    """,
)
def scalar_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 100)
    m = F.create_map(
        F.lit("t"), F.col("event_type"), F.lit("u"), F.col("user_id").cast("string")
    )
    return ev.select(
        "event_id",
        F.element_at(m, "t").alias("t_val"),
        F.size(m).alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
    )


@register(
    "scalar_array_funcs",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' '))                           AS n_tokens,
           len(list_distinct(string_split(text, ' ')))            AS n_unique,
           array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3], ',') AS first3
    FROM documents WHERE doc_id < 100
    """,
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.array_join(F.slice(F.array_sort(F.array_distinct(toks)), 1, 3), ",").alias("first3"),
    )


@register(
    "scalar_funcs_combined",
    oracle="""
    SELECT 'string' AS family, p_partkey AS key,
           CONCAT(UPPER(p_brand), '|', LOWER(p_type), '|', SUBSTRING(p_name, 1, 5), '|',
                  CONCAT(p_brand, ':', p_type), '|', REPLACE(p_brand, 'Brand#', 'B'), '|',
                  REGEXP_EXTRACT(p_brand, '([0-9]+)', 1), '|', SPLIT_PART(p_type, ' ', 1)) AS val_str,
           LENGTH(p_name)::DOUBLE AS val_num
    FROM part WHERE p_partkey <= 1000
    UNION ALL
    SELECT 'date', o_orderkey,
           CONCAT(CAST(CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS VARCHAR), '|',
                  CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS VARCHAR)),
           (EXTRACT(year FROM o_orderdate) * 10000 + EXTRACT(month FROM o_orderdate) * 100
            + EXTRACT(day FROM o_orderdate)
            + DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)))::DOUBLE
    FROM orders WHERE o_orderkey <= 1000
    UNION ALL
    SELECT 'math', l_orderkey * 10 + l_linenumber, NULL,
           ROUND(ROUND(ABS(l_discount - 0.05), 4) + FLOOR(l_quantity / 7) + CEIL(l_extendedprice / 1000)
                 + ROUND(SQRT(l_quantity), 6) + ROUND(POW(1 + l_tax, 2), 6)
                 + ROUND(LN(l_extendedprice), 6) + SIGN(l_discount - 0.05), 6)
    FROM lineitem WHERE l_orderkey <= 500
    UNION ALL
    SELECT 'array', doc_id,
           array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3], ','),
           (len(string_split(text, ' ')) * 1000 + len(list_distinct(string_split(text, ' '))))::DOUBLE
    FROM documents WHERE doc_id < 100
    """,
)
def scalar_funcs_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String + date + math + array function families (§2.8) in ONE
    driver-gate slot: each family melts to (family, key, val_str, val_num)
    so a capped correctness sweep verifies all four. The four families ARE
    the standalone twins (scalar_string_funcs, scalar_date_funcs,
    scalar_math_funcs, scalar_array_funcs); the combined query only narrows
    their key filters and folds their columns. JSON + map keep an
    events-table slot (scalar_json_map_events)."""
    strings = scalar_string_funcs(spark, sf_dir).filter(F.col("p_partkey") <= 1000).select(
        F.lit("string").alias("family"),
        F.col("p_partkey").cast("long").alias("key"),
        F.concat_ws(
            "|", "brand_upper", "type_lower", "name_prefix", "brand_type",
            "brand_short", "brand_num", "type_first_word",
        ).alias("val_str"),
        F.col("name_len").cast("double").alias("val_num"),
    )
    dates = scalar_date_funcs(spark, sf_dir).filter(F.col("o_orderkey") <= 1000).select(
        F.lit("date").alias("family"),
        F.col("o_orderkey").cast("long").alias("key"),
        F.concat_ws(
            "|", F.col("month_start").cast("string"), F.col("due_ts").cast("date").cast("string")
        ).alias("val_str"),
        (F.col("yr") * 10000 + F.col("mon") * 100 + F.col("dom") + F.col("days_since_epoch_start"))
        .cast("double")
        .alias("val_num"),
    )
    maths = scalar_math_funcs(spark, sf_dir).filter(F.col("l_orderkey") <= 500).select(
        F.lit("math").alias("family"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long").alias("key"),
        F.lit(None).cast("string").alias("val_str"),
        F.round(
            F.col("abs_disc") + F.col("qty_bucket") + F.col("price_k") + F.col("qty_sqrt")
            + F.col("tax_sq") + F.col("price_ln") + F.col("disc_sign"),
            6,
        ).alias("val_num"),
    )
    arrays = scalar_array_funcs(spark, sf_dir).select(
        F.lit("array").alias("family"),
        F.col("doc_id").cast("long").alias("key"),
        F.col("first3").alias("val_str"),
        (F.col("n_tokens") * 1000 + F.col("n_unique")).cast("double").alias("val_num"),
    )
    return strings.unionByName(dates).unionByName(maths).unionByName(arrays)


@register(
    "scalar_json_map_events",
    oracle="""
    WITH parsed AS (
        SELECT event_type,
               CAST(json_extract_string(props, 'k') AS INT) AS k,
               MAP {'t': event_type, 'u': CAST(user_id AS VARCHAR)} AS m
        FROM events
    )
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           MIN(k) AS min_k, MAX(k) AS max_k,
           MAX(map_extract(m, 't')[1]) AS t_max,
           CAST(SUM(cardinality(m)) AS BIGINT) AS total_keys,
           MAX(array_to_string(list_sort(map_keys(m)), ',')) AS keys_sorted
    FROM parsed GROUP BY event_type
    """,
)
def scalar_json_map_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON parsing (from_json with explicit schema) + map construction/
    extraction (§2.8 json + map families) in ONE events-table slot — also
    the canary for events-parquet session-proofing (the round-1 FAIL-env
    class)."""
    ev = load_table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("t"), F.col("event_type"), F.lit("u"), F.col("user_id").cast("string")
    )
    parsed = ev.select(
        "event_type",
        F.from_json("props", "k INT").getField("k").alias("k"),
        m.alias("m"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.max(F.element_at("m", "t")).alias("t_max"),
        F.sum(F.size("m")).cast("long").alias("total_keys"),
        F.max(F.array_join(F.array_sort(F.map_keys("m")), ",")).alias("keys_sorted"),
    )
