"""Source/sink round-trip queries (SURVEY §2.1) — prove ``read_csv`` and
the csv/json/orc/partitioned-parquet writers through the driver gate.

Reference: ``read_csv`` is the reference's ONLY source
(``/root/reference/dataframe/io.py:13-88``); sinks are absent there but
required surface. Each query materializes fixture data to a scratch dir in
the format under test, reads it back through our source implementation, and
aggregates — the oracle computes the same aggregate straight from the
parquet views, so any loss/corruption in the round trip (quoting, header
handling, type mapping, partition layout) breaks the value hash.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lithops_dataframe_spark import cache
from lithops_dataframe_spark.catalog import load_table
from lithops_dataframe_spark.plans.registry import register
from lithops_dataframe_spark.sources.csv import read_csv
from lithops_dataframe_spark.sources.io import read_json, read_orc, read_parquet, write


@register(
    "csv_roundtrip",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(p_partkey) AS BIGINT) AS key_sum,
           COUNT(DISTINCT p_brand) AS n_brands,
           MIN(p_name) AS first_name,
           CAST(SUM(p_size) AS BIGINT) AS size_sum,
           -- the CSV leg serializes EVERY price at 2 decimals
           -- (format_number) before the sum, so the oracle must
           -- round-then-sum too: sum-then-round diverges the moment two
           -- 3-decimal boundary prices coexist (r9 edge-fixture catch —
           -- DuckDB ROUND(::DOUBLE, 2) matches format_number's
           -- shortest-repr half-up on the .995/.005/.675 boundary cases,
           -- probed explicitly)
           ROUND(SUM(ROUND(p_retailprice, 2)), 2) AS price_sum,
           CAST(SUM(CASE WHEN p_size % 4 IN (0, 1) THEN 1 ELSE 0 END) AS BIGINT)
               AS n_na_cats,
           CAST(SUM(CASE WHEN p_size % 4 NOT IN (0, 1) THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cats,
           CAST(SUM(p_size * 1000) AS BIGINT) AS msize_sum,
           ROUND(SUM(ROUND(p_retailprice, 2)), 2) AS eu_price_sum,
           COUNT(DISTINCT lower(p_type)) AS n_type_lower,
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT) AS n_nations,
           CAST((SELECT SUM(n_nationkey) FROM nation) AS BIGINT) AS nation_key_sum
    FROM part
    """,
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet → csv → ``read_csv`` with the pandas option surface →
    aggregate; any loss in writer quoting, header replacement, or dtype
    casts breaks the value hash. Exercises (VERDICT_r02 task 5) the kwarg
    tail on columns derived from the fixture so the oracle reproduces them
    from parquet: multi-token ``na_values`` ('SM CASE' and 'SM BOX' both
    null out of the synthetic p_cat), ``thousands='.'`` (p_msize = p_size
    × 1000 serialized as '12.000'-style grouped digits), ``decimal=','``
    (p_euprice = p_retailprice with ',' as decimal mark — the fixture's
    prices are exact 2-decimal values, so the text round-trip is
    lossless), and ``converters`` (str.lower over an uppercased p_type)."""
    src = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_type",
        "p_size",
        # thousands/decimal are FILE-WIDE conventions (pandas applies them
        # to every numeric column), so every float serializes EU-style
        F.translate(F.format_number(F.col("p_retailprice"), 2), ".,", ",.").alias(
            "p_retailprice"
        ),
        F.element_at(
            F.array(F.lit("SM CASE"), F.lit("SM BOX"), F.lit("LG BOX"), F.lit("MED DRUM")),
            (F.col("p_size") % 4 + 1).cast("int"),
        ).alias("p_cat"),
        F.upper("p_type").alias("p_type_up"),
        # '12.000'-style grouped integer: insert '.' every 3 digits from
        # the right (fixture sizes are 1..50 → at most 5 digits here)
        F.regexp_replace(
            (F.col("p_size") * 1000).cast("string"), r"(\d)(?=(\d{3})+$)", "$1."
        ).alias("p_msize"),
        # '1.234,56'-style float: format_number gives '1,234.56'; swap
        # the two separator chars
        F.translate(F.format_number(F.col("p_retailprice"), 2), ".,", ",.").alias("p_euprice"),
    )
    out = os.path.join(cache.scratch("csv"), "part_csv")
    write(src, out, fmt="csv", header="true")
    back = read_csv(
        spark,
        out,
        names=[
            "p_partkey",
            "p_name",
            "p_brand",
            "p_type",
            "p_size",
            "p_retailprice",
            "p_cat",
            "p_type_up",
            "p_msize",
            "p_euprice",
        ],
        header=0,
        dtype={
            "p_partkey": "int64",
            "p_name": "string",
            "p_brand": "string",
            "p_type": "string",
            "p_size": "int32",
            "p_retailprice": "float64",
            "p_msize": "int64",
            "p_euprice": "float64",
        },
        na_values=["SM CASE", "SM BOX"],
        thousands=".",
        decimal=",",
        converters={"p_type_up": str.lower},
    )
    # bounded-skiprows leg (r4): a SINGLE file with a 2-line junk preamble
    # then header then the 25-row nation table (driver-written — bounded);
    # read_csv(skiprows=2) must skip the junk, take the header from line 2,
    # and driver-side-infer the schema
    nat = sorted(load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name").collect())
    sp = os.path.join(cache.scratch("csvskip"), "nation_preamble.csv")
    with open(sp, "w") as f:
        f.write("# legacy export, do not parse\ngenerated: long ago\n")
        f.write("n_nationkey,n_name\n")
        for key, name in nat:
            f.write(f"{key},{name}\n")
    skip_agg = read_csv(spark, sp, skiprows=2).agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.sum("n_nationkey").alias("nation_key_sum"),
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("p_partkey").alias("key_sum"),
        F.countDistinct("p_brand").alias("n_brands"),
        F.min("p_name").alias("first_name"),
        F.sum("p_size").alias("size_sum"),
        F.round(F.sum("p_retailprice"), 2).alias("price_sum"),
        F.sum(F.when(F.col("p_cat").isNull(), 1).otherwise(0)).alias("n_na_cats"),
        F.sum(F.when(F.col("p_cat").isNotNull(), 1).otherwise(0)).alias("n_cats"),
        F.sum("p_msize").alias("msize_sum"),
        F.round(F.sum("p_euprice"), 2).alias("eu_price_sum"),
        F.countDistinct("p_type_up").alias("n_type_lower"),
    ).crossJoin(skip_agg)


@register(
    "io_sinks_roundtrip",
    oracle="""
    SELECT 'json' AS fmt, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS chk
    FROM orders WHERE o_orderkey <= 1000
    UNION ALL
    SELECT 'orc', COUNT(*), ROUND(SUM(l_quantity), 2)
    FROM lineitem WHERE l_orderkey <= 1000
    UNION ALL
    SELECT 'parquet_part', COUNT(*), ROUND(SUM(o_totalprice), 2)
    FROM orders WHERE o_orderkey <= 1000 AND o_orderstatus = 'F'
    """,
)
def io_sinks_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json / orc / partitioned-parquet sinks, each written then read back
    through our sources and reduced to (fmt, n, chk). The parquet leg
    writes partitionBy(o_orderstatus) and reads back with a partition
    filter, so directory-partition pruning layout is on the hash path too."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 1000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 1000)
        .select("l_orderkey", "l_quantity")
    )
    base = cache.scratch("sinks")

    jpath = os.path.join(base, "orders_json")
    write(o, jpath, fmt="json")
    jback = read_json(spark, jpath, "o_orderkey bigint, o_orderstatus string, o_totalprice double")
    jleg = jback.agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("chk")
    ).select(F.lit("json").alias("fmt"), "n", "chk")

    # explicit read-back schemas: when the source filter matches nothing
    # (possible on adversarial fixtures / upstream-empty stages) the sink
    # dir holds only _SUCCESS and schema inference would fail (r9 edge
    # sweep, UNABLE_TO_INFER_SCHEMA) — exactly why 100TB readers always
    # declare schemas.
    opath = os.path.join(base, "lineitem_orc")
    write(li, opath, fmt="orc")
    oleg = (
        read_orc(spark, opath, schema=li.schema)
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("chk"))
        .select(F.lit("orc").alias("fmt"), "n", "chk")
    )

    ppath = os.path.join(base, "orders_part")
    write(o, ppath, fmt="parquet", partition_by=["o_orderstatus"])
    pleg = (
        read_parquet(spark, ppath, schema=o.schema)
        .filter(F.col("o_orderstatus") == "F")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("chk"))
        .select(F.lit("parquet_part").alias("fmt"), "n", "chk")
    )

    return jleg.unionByName(oleg).unionByName(pleg)


@register(
    "io_schema_evolution",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_price,
           ROUND(SUM(COALESCE(o_totalprice, 0)), 2) AS price_sum
    FROM (
        SELECT o_orderstatus, NULL::DOUBLE AS o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 2 = 1
    ) GROUP BY o_orderstatus
    """,
)
def io_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet generations — v1 without
    ``o_totalprice``, v2 with it — land in one directory tree and are read
    back via ``mergeSchema``; v1 rows surface the added column as NULL.
    The lake-ingest reality check: producers add columns over time, and
    the scan must union schemas without rewriting old files.

    Scale shape: mergeSchema reconciles footers at planning time (one
    footer read per file — at 100 TB keep a table-level schema in a
    catalog instead of footer-merging millions of files; the read path is
    identical). Column pruning and predicate pushdown still apply to the
    merged scan."""
    orders = load_table(spark, sf_dir, "orders")
    root = cache.scratch("evolve")
    orders.filter(F.col("o_orderkey") % 2 == 0).select("o_orderstatus", "o_orderkey").write.mode(
        "overwrite"
    ).parquet(os.path.join(root, "gen=1"))
    orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderstatus", "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(os.path.join(root, "gen=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "gen=1"), os.path.join(root, "gen=2")
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0)).alias("n_missing_price"),
        F.round(F.sum(F.coalesce(F.col("o_totalprice"), F.lit(0.0))), 2).alias("price_sum"),
    )


@register(
    "io_compact_small_files",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           COUNT(DISTINCT o_orderstatus) AS n_status
    FROM orders
    """,
)
def io_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction: a fragmented landing zone (64 tiny files —
    the classic streaming-ingest pathology) rewritten to a handful of
    right-sized files via AQE-coalesced repartition, then read back and
    audited for row/value conservation. Asserts the compaction actually
    reduced the file count before returning the audit frame.

    Scale shape: compaction is one shuffle-free-read → repartition(N) →
    write; N targets spark.sql.files.maxPartitionBytes-sized outputs
    (here 4). At 100 TB this runs per-partition-directory with dynamic
    partition overwrite so only fragmented directories rewrite
    (operators/rollup.py::refresh_days shows that overwrite mode)."""
    import glob

    orders = load_table(spark, sf_dir, "orders")
    frag_dir = os.path.join(cache.scratch("frag"), "orders_frag")
    orders.repartition(64).write.mode("overwrite").parquet(frag_dir)
    n_frag = len(glob.glob(os.path.join(frag_dir, "*.parquet")))

    compact_dir = os.path.join(cache.scratch("compact"), "orders_compact")
    spark.read.parquet(frag_dir).repartition(4).write.mode("overwrite").parquet(compact_dir)
    n_compact = len(glob.glob(os.path.join(compact_dir, "*.parquet")))
    if n_compact >= n_frag:
        raise RuntimeError(
            f"compaction did not reduce file count: {n_frag} -> {n_compact}"
        )

    back = spark.read.parquet(compact_dir)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.count_distinct("o_orderstatus").alias("n_status"),
    )


# ---------------------------------------------------------------------------
# Z-order clustered layout (operators/layout.py)
# ---------------------------------------------------------------------------
from lithops_dataframe_spark.operators.layout import (  # noqa: E402
    write_zordered,
    zorder_value,
    zorder_value_sql,
)

_Z_PK = (1, 50)  # l_partkey box
_Z_SK = (1, 5)  # l_suppkey box

_ZORDER_ORACLE = f"""
    WITH f AS (
        SELECT * FROM lineitem
        WHERE l_partkey BETWEEN {_Z_PK[0]} AND {_Z_PK[1]}
          AND l_suppkey BETWEEN {_Z_SK[0]} AND {_Z_SK[1]}
    )
    SELECT COUNT(*)::BIGINT AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(DISTINCT l_partkey)::BIGINT AS n_parts,
           MIN({zorder_value_sql('l_partkey', 'l_suppkey')})::BIGINT AS min_z,
           MAX({zorder_value_sql('l_partkey', 'l_suppkey')})::BIGINT AS max_z
    FROM f
"""


@register("io_zorder_roundtrip", oracle=_ZORDER_ORACLE)
def io_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered write → filtered read-back: lineitem is Morton-
    clustered on (l_partkey, l_suppkey) (range-partitioned + sorted on the
    interleaved key, so files own disjoint z-ranges and row groups carry
    tight min/max on BOTH columns), then a 2-D box predicate reads it
    back. The aggregate must match DuckDB running the same filter on the
    original table — and min_z/max_z hash-check the Morton arithmetic
    itself. tests/test_layout.py measures the pruning effect (file-level
    min/max disjointness vs a hash-shuffled layout of the same rows)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    out = cache.scratch("zorder")
    write_zordered(li, "l_partkey", "l_suppkey", out, n_files=8)
    back = read_parquet(spark, out).filter(
        F.col("l_partkey").between(*_Z_PK) & F.col("l_suppkey").between(*_Z_SK)
    )
    z = zorder_value("l_partkey", "l_suppkey")
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count_distinct("l_partkey").alias("n_parts"),
        F.min(z).alias("min_z"),
        F.max(z).alias("max_z"),
    )


_OPTIMIZE_ORACLE = """
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
           TRUE AS compacted_ok,
           TRUE AS clustered_ok
    FROM lineitem
"""


@register("io_optimize_compact_zorder", oracle=_OPTIMIZE_ORACLE)
def io_optimize_compact_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE-style table maintenance (Delta ``OPTIMIZE ... ZORDER BY``
    analog): a fragmented landing zone (48 tiny files) rewrites into a
    handful of Z-order-clustered files in ONE pass — compaction and
    multi-dimensional clustering are the same shuffle, so the maintenance
    job costs one read + one range-exchange + one write.

    The audit frame proves all three properties under the hash gate:
    row/value conservation (n_rows/key_sum vs the oracle), file-count
    reduction (compacted_ok), and genuine clustering — at least half the
    output files must be fully disjoint from a 2-D predicate box on their
    (min, max) stats (clustered_ok), which is what enables scan pruning.
    Both booleans are computed from the actual written files and pinned
    TRUE by the oracle, so a silent layout regression fails the sweep."""
    import glob

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    frag_dir = os.path.join(cache.scratch("optfrag"), "li_frag")
    li.repartition(48).write.mode("overwrite").parquet(frag_dir)
    n_frag = len(glob.glob(os.path.join(frag_dir, "*.parquet")))

    opt_dir = os.path.join(cache.scratch("optimized"), "li_zorder")
    write_zordered(
        spark.read.parquet(frag_dir), "l_partkey", "l_suppkey", opt_dir, n_files=8
    )
    n_opt = len(glob.glob(os.path.join(opt_dir, "*.parquet")))

    back = spark.read.parquet(opt_dir)
    stats = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min("l_partkey").alias("min_p"),
            F.max("l_partkey").alias("max_p"),
            F.min("l_suppkey").alias("min_s"),
            F.max("l_suppkey").alias("max_s"),
        )
    )
    # predicate box from io_zorder_roundtrip; a file is prunable iff its
    # stats box misses the predicate box on either dimension
    prunable = stats.filter(
        (F.col("max_p") < _Z_PK[0])
        | (F.col("min_p") > _Z_PK[1])
        | (F.col("max_s") < _Z_SK[0])
        | (F.col("min_s") > _Z_SK[1])
    ).count()
    n_files = stats.count()

    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_orderkey").cast("long").alias("key_sum"),
        F.lit(n_opt < n_frag).alias("compacted_ok"),
        F.lit(prunable * 2 >= n_files).alias("clustered_ok"),
    )


# ---------------------------------------------------------------------------
# MERGE-INTO-style upsert via dynamic partition overwrite (round 5)
# ---------------------------------------------------------------------------
_MERGE_ORACLE = """
    WITH base AS (
        SELECT o_orderkey AS k, strftime(o_orderdate, '%Y-%m') AS m,
               ROUND(o_totalprice * 100)::BIGINT AS cents, 'base' AS src
        FROM orders
    ),
    upd AS (
        SELECT k, m, cents + 500 AS cents, 'upd' AS src
        FROM base WHERE k % 97 = 0 AND m LIKE '1996-%'
    ),
    ins AS (
        SELECT k + 1000000000 AS k, m, 123456::BIGINT AS cents, 'ins' AS src
        FROM base WHERE k % 131 = 0 AND m LIKE '1997-%'
    ),
    final AS (
        SELECT b.* FROM base b
        LEFT JOIN upd u ON u.k = b.k WHERE u.k IS NULL
        UNION ALL SELECT * FROM upd
        UNION ALL SELECT * FROM ins
    )
    SELECT m,
           COUNT(*)::BIGINT AS n_rows,
           SUM(cents)::BIGINT AS cents,
           SUM(CASE WHEN src = 'upd' THEN 1 ELSE 0 END)::BIGINT AS n_updated,
           SUM(CASE WHEN src = 'ins' THEN 1 ELSE 0 END)::BIGINT AS n_inserted
    FROM final GROUP BY m
"""


@register("io_merge_upsert_partitioned", oracle=_MERGE_ORACLE)
def io_merge_upsert_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO-style upsert against a month-partitioned parquet table
    via DYNAMIC partition overwrite (round 5 — the write-side sibling of
    the relational scd2_customer_dim): stage an update+insert batch,
    rewrite ONLY the partitions the batch touches (anti-join the staged
    keys inside them, union the batch), leave every other partition's
    files untouched. This is the Hive/Delta MERGE pattern on plain
    parquet: at 100 TB the rewrite cost is proportional to the touched
    partitions, not the table, and the read-back scan prunes to the
    affected months (partition filter pushdown).

    Money sums as exact integer cents end-to-end; the oracle replays the
    final table state and per-month counts by row provenance."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.date_format("o_orderdate", "yyyy-MM").alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.lit("base").alias("src"),
    )
    path = os.path.join(cache.scratch("merge"), "orders_by_month")
    # repartition on the partition column first: otherwise every write
    # task fans out a file into every month directory (tasks × months
    # small files — the anti-pattern io_compact_small_files exists to
    # clean up); this way each month gets one well-sized file
    base.repartition("m").write.partitionBy("m").mode("overwrite").parquet(path)

    # the batch touches only 1996/1997 months — the 60+ other partitions
    # MUST survive the dynamic overwrite untouched (that survival is what
    # the oracle's full-table replay verifies)
    upd = base.filter((F.col("k") % 97 == 0) & F.col("m").startswith("1996-")).select(
        "k", "m", (F.col("cents") + 500).alias("cents"), F.lit("upd").alias("src")
    )
    ins = base.filter((F.col("k") % 131 == 0) & F.col("m").startswith("1997-")).select(
        (F.col("k") + 1_000_000_000).alias("k"),
        "m",
        F.lit(123456).cast("long").alias("cents"),
        F.lit("ins").alias("src"),
    )
    batch = upd.unionByName(ins)
    months = [r["m"] for r in batch.select("m").distinct().collect()]

    target = spark.read.parquet(path)
    touched = target.filter(F.col("m").isin(months))
    keys = upd.select("k")
    merged = (
        touched.join(keys, "k", "left_anti")
        .unionByName(batch.select(*touched.columns))
    )
    # dynamic mode rewrites only the partitions `merged` carries rows for
    (
        merged.repartition("m")
        .write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("m")
        .mode("overwrite")
        .parquet(path)
    )

    final = spark.read.parquet(path)
    return final.groupBy("m").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("cents"),
        F.sum(F.when(F.col("src") == "upd", 1).otherwise(0)).alias("n_updated"),
        F.sum(F.when(F.col("src") == "ins", 1).otherwise(0)).alias("n_inserted"),
    )


# ---------------------------------------------------------------------------
# dynamic partition pruning (runtime prune of a partitioned fact scan)
# ---------------------------------------------------------------------------
_DPP_ORACLE = """
    WITH f AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS m,
               (round(o_totalprice * 100))::BIGINT AS cents
        FROM orders
    ),
    d AS (
        SELECT DISTINCT m,
               substr(m, 1, 4) || 'Q' ||
                   ((substr(m, 6, 2)::INT + 2) // 3)::VARCHAR AS q
        FROM f
    )
    SELECT f.m, COUNT(*)::BIGINT AS n_orders, SUM(f.cents)::BIGINT AS revenue_cents
    FROM f JOIN d ON d.m = f.m
    WHERE d.q = '1995Q1'
    GROUP BY f.m
"""


def dpp_frames(spark: SparkSession, sf_dir: str):
    """Write the month-partitioned fact + the month dimension, read both
    back, and return (fact, filtered dim) — shared by the registered
    query and the plan-assertion test."""
    orders = load_table(spark, sf_dir, "orders")
    fact = orders.select(
        F.col("o_orderkey").alias("k"),
        F.date_format("o_orderdate", "yyyy-MM").alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    fpath = os.path.join(cache.scratch("dpp"), "orders_by_month")
    fact.repartition("m").write.partitionBy("m").mode("overwrite").parquet(fpath)

    dim = fact.select("m").distinct().select(
        "m",
        F.concat(
            F.substring("m", 1, 4),
            F.lit("Q"),
            ((F.substring("m", 6, 2).cast("int") + 2) / 3).cast("int").cast("string"),
        ).alias("q"),
    )
    dpath = os.path.join(cache.scratch("dpp"), "month_dim")
    dim.write.mode("overwrite").parquet(dpath)

    f = spark.read.parquet(fpath)
    d = spark.read.parquet(dpath).filter(F.col("q") == "1995Q1")
    return f, d


@register("io_dpp_prune", oracle=_DPP_ORACLE)
def io_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a month-partitioned fact joined to a
    month dimension filtered on a NON-partition column (quarter) — the
    filter's matching partition keys are only known at runtime, so
    Catalyst injects a dynamicpruning subquery into the fact scan and the
    job reads 3 month directories out of ~80 (tests/test_dpp.py asserts
    the plan carries the pruning subquery). This is the star-schema scan
    pattern that makes a 100 TB date-partitioned fact affordable: the
    fact never materializes outside the pruned partitions.

    Exactness: revenue as integer cents; counts BIGINT."""
    f, d = dpp_frames(spark, sf_dir)
    return (
        f.join(d, "m")
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# malformed-ingest audit: PERMISSIVE corrupt-record accounting
# ---------------------------------------------------------------------------
# Deterministic malformed fixture: derived from `nation` so both engines
# can reproduce every line. Rows with n_nationkey % 5 == 2 get a
# non-numeric key token ("bad<k>") → _corrupt_record under PERMISSIVE.
# Rows with % 5 == 4 lose their last field — MEASURED Spark semantics
# (4.1): a SHORT row is NOT quarantined; missing trailing fields are
# null-padded and the row stays good (only parse/type failures populate
# the corrupt column). The oracle encodes exactly that split, so the
# driver gate pins the engine's dead-letter contract, not a guess.
_CORRUPT_ORACLE = """
    SELECT
        COUNT(*)::BIGINT AS n_rows,
        SUM(CASE WHEN n_nationkey % 5 = 2 THEN 1 ELSE 0 END)::BIGINT
            AS n_quarantined,
        SUM(CASE WHEN n_nationkey % 5 <> 2 THEN 1 ELSE 0 END)::BIGINT
            AS n_good,
        SUM(CASE WHEN n_nationkey % 5 <> 2
                 THEN n_nationkey ELSE 0 END)::BIGINT AS good_key_sum,
        SUM(CASE WHEN n_nationkey % 5 NOT IN (2, 4)
                 THEN n_regionkey ELSE 0 END)::BIGINT AS good_region_sum
    FROM nation
"""


@register("io_csv_corrupt_audit", oracle=_CORRUPT_ORACLE)
def io_csv_corrupt_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE malformed-ingest audit: write a CSV where known rows are
    corrupted (non-numeric key / truncated line), read it back with an
    explicit schema + ``columnNameOfCorruptRecord``, and report the
    quarantine accounting — the dead-letter pattern every production
    ingest runs so one bad upstream line never kills (FAILFAST) or
    silently vanishes from (DROPMALFORMED) a 100 TB load. Pins the
    MEASURED PERMISSIVE split: type-corrupt lines quarantine; SHORT
    lines null-pad and stay good (their null fields surface in the
    region sum) — the subtle case an ingest reviewer must know.

    Scale shape: the corruption/write/read is per-row streaming work; the
    audit is one hash aggregate. The oracle reproduces the fixture's
    corruption rule from the clean table, so the quarantine SPLIT (not
    just totals) is value-hash-gated."""
    from pyspark.sql import types as T

    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    line = F.when(
        F.col("n_nationkey") % 5 == 2,
        F.concat(
            F.lit("bad"), F.col("n_nationkey").cast("string"),
            F.lit(","), F.col("n_name"), F.lit(","),
            F.col("n_regionkey").cast("string"),
        ),
    ).when(
        F.col("n_nationkey") % 5 == 4,
        F.concat(F.col("n_nationkey").cast("string"), F.lit(","), F.col("n_name")),
    ).otherwise(
        F.concat(
            F.col("n_nationkey").cast("string"), F.lit(","), F.col("n_name"),
            F.lit(","), F.col("n_regionkey").cast("string"),
        )
    )
    path = os.path.join(cache.scratch("corrupt"), "nation_malformed_csv")
    nation.select(line.alias("value")).write.mode("overwrite").text(path)

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("r", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(bad.cast("int")).cast("long").alias("n_quarantined"),
        F.sum((~bad).cast("int")).cast("long").alias("n_good"),
        F.sum(F.when(~bad, F.col("k")).otherwise(0)).cast("long").alias("good_key_sum"),
        F.sum(F.when(~bad, F.col("r")).otherwise(0)).cast("long").alias("good_region_sum"),
    )


# ---------------------------------------------------------------------------
# late-arriving dimension (early-arriving fact) handling
# ---------------------------------------------------------------------------
# Simulated feed race: the customer dim snapshot is MISSING every member
# with c_custkey % 7 == 3 (their facts arrived first). The loader must
# (a) never drop or stall those facts, (b) mint inferred placeholder
# members so referential integrity holds, (c) report the backfill
# worklist — the Kimball late-arriving-dimension recipe.
_LATE_DIM_ORACLE = """
    WITH dim AS (
        SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 7 <> 3
    ),
    f AS (
        SELECT o_custkey AS k,
               (round(o_totalprice * 100))::BIGINT AS cents
        FROM orders
    ),
    j AS (
        SELECT f.k, f.cents,
               COALESCE(d.c_mktsegment, 'INFERRED') AS segment,
               (d.c_custkey IS NULL) AS inferred
        FROM f LEFT JOIN dim d ON d.c_custkey = f.k
    )
    SELECT segment,
           COUNT(*)::BIGINT AS n_orders,
           SUM(cents)::BIGINT AS revenue_cents,
           COUNT(DISTINCT CASE WHEN inferred THEN k END)::BIGINT
               AS n_inferred_members
    FROM j GROUP BY segment
"""


@register("scd_late_arriving_dim", oracle=_LATE_DIM_ORACLE)
def scd_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving dimension handling (Kimball): facts whose dimension
    member has not landed yet are neither dropped nor stalled — they
    join to a minted INFERRED placeholder member, revenue still rolls up,
    and the report carries the inferred-member count that sizes the
    backfill worklist (when the real member arrives, a MERGE — see
    io_merge_upsert_partitioned — overwrites the placeholder in place).

    Scale shape: one left join of the fact against the (filtered) dim on
    the natural key plus one rollup — the enrichment join the load pays
    anyway; placeholder minting is a COALESCE, not a second pass. Exact
    integer cents; all counts BIGINT."""
    cust = load_table(spark, sf_dir, "customer")
    dim = cust.filter(F.col("c_custkey") % 7 != 3).select(
        "c_custkey", "c_mktsegment"
    )
    orders = load_table(spark, sf_dir, "orders")
    f = orders.select(
        F.col("o_custkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    j = f.join(dim, f.k == dim.c_custkey, "left").select(
        "k",
        "cents",
        F.coalesce(F.col("c_mktsegment"), F.lit("INFERRED")).alias("segment"),
        F.col("c_custkey").isNull().alias("inferred"),
    )
    return j.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("revenue_cents"),
        F.count_distinct(F.when(F.col("inferred"), F.col("k")))
        .cast("long")
        .alias("n_inferred_members"),
    )
