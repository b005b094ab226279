"""Set-operation and grouping-set queries (SURVEY §2.7 + §2.4's
distinct/cube/rollup — all ABSENT in the reference, required surface)."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lithops_dataframe_spark.catalog import load_table
from lithops_dataframe_spark.plans.registry import register


@register(
    "setop_union_all_counts",
    oracle="""
    SELECT kind, COUNT(*) AS n FROM (
        SELECT 'customer' AS kind, c_nationkey AS nationkey FROM customer
        UNION ALL
        SELECT 'supplier' AS kind, s_nationkey AS nationkey FROM supplier
    ) GROUP BY kind
    """,
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.lit("customer").alias("kind"), F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.lit("supplier").alias("kind"), F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).groupBy("kind").agg(F.count(F.lit(1)).alias("n"))


@register(
    "setop_intersect_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "setop_except_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    # SQL EXCEPT = set difference with dedup → Spark's subtract().
    # (exceptAll is bag difference — a key occurring 10× left and 1× right
    # would survive; not what EXCEPT means.)
    return c.subtract(s)


@register(
    "setop_distinct_order_priorities",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def setop_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


@register(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(DISTINCT o_orderpriority) AS n_priorities
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
        )
    )


@register(
    "agg_approx_count_distinct",
    # sketch internals differ from DuckDB's → gate by error tolerance
    # (rsd 0.05 → 3σ = 15%), pinned TRUE by the oracle; exact count
    # hash-checked alongside. Same pattern as frame_describe_approx.
    oracle="""
    SELECT COUNT(DISTINCT o_custkey)::BIGINT AS exact_customers,
           TRUE AS approx_ok
    FROM orders
    """,
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HLL++ sketch: the 100 TB path for cardinality (single pass, fixed
    # memory, mergeable partials) vs the exact shuffle of count(distinct).
    # Default rsd (0.05): tightening to 0.01 switches HLL++ into a ~10×
    # slower high-precision register mode (measured 3.5 s vs 0.33 s at
    # sf0.1) for accuracy the use case doesn't need.
    return (
        load_table(spark, sf_dir, "orders")
        .agg(
            F.approx_count_distinct("o_custkey").alias("approx_customers"),
            F.count_distinct("o_custkey").alias("exact_customers"),
        )
        .select(
            "exact_customers",
            (
                F.abs(F.col("approx_customers") - F.col("exact_customers"))
                <= F.lit(0.15) * F.col("exact_customers")
            ).alias("approx_ok"),
        )
    )


@register(
    "agg_unpivot_melt",
    oracle="""
    SELECT l_orderkey, l_linenumber, kind, ROUND(amount, 2) AS amount
    FROM (
        SELECT l_orderkey, l_linenumber,
               l_extendedprice AS price, l_discount AS discount, l_tax AS tax
        FROM lineitem WHERE l_orderkey < 100
    ) UNPIVOT (amount FOR kind IN (price, discount, tax))
    """,
)
def agg_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long unpivot (pandas melt): one Generate node, no shuffle."""
    from lithops_dataframe_spark.frame import LDFrame

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 100)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_extendedprice").alias("price"),
            F.col("l_discount").alias("discount"),
            F.col("l_tax").alias("tax"),
        )
    )
    melted = LDFrame(li).melt(
        ["l_orderkey", "l_linenumber"], ["price", "discount", "tax"], "kind", "amount"
    )
    return melted.spark.select(
        "l_orderkey", "l_linenumber", "kind", F.round("amount", 2).alias("amount")
    )


@register(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.5), 6) AS med_qty,
           ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
           ROUND(quantile_cont(l_discount, 0.99), 6) AS p99_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    quantile_cont — verified bit-parity on linear interpolation). At
    100 TB prefer `approx_percentile` (mergeable t-digest-style sketch,
    single pass, fixed memory); exact percentile needs a per-group sort."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_quantity", 0.5), 6).alias("med_qty"),
            F.round(F.percentile("l_extendedprice", 0.9), 6).alias("p90_price"),
            F.round(F.percentile("l_discount", 0.99), 6).alias("p99_disc"),
        )
    )


@register(
    "setop_combined",
    oracle="""
    SELECT 'union_all' AS op, (SELECT COUNT(*) FROM (
        SELECT c_nationkey FROM customer UNION ALL SELECT s_nationkey FROM supplier)) AS n
    UNION ALL
    SELECT 'intersect', (SELECT COUNT(*) FROM (
        SELECT c_nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier))
    UNION ALL
    SELECT 'except', (SELECT COUNT(*) FROM (
        SELECT c_nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier))
    UNION ALL
    SELECT 'distinct', (SELECT COUNT(*) FROM (
        SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders))
    UNION ALL
    SELECT 'count_distinct', (SELECT COUNT(DISTINCT o_custkey) FROM orders)
    """,
)
def setop_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every §2.7 set operation + count_distinct in one driver-checkable
    result, one tagged count per operator. The intersect, except and
    distinct legs ARE the standalone twins (setop_intersect, setop_except,
    setop_distinct). Two legs stay inline: union_all, because its twin
    pre-groups by kind and summing those counts adds an exchange; and
    count_distinct, because its twin counts per status and per-status
    distinct counts do not sum to the global one."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    orders = load_table(spark, sf_dir, "orders")

    def tag(op: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(op).alias("op"), "n")

    legs = [
        tag("union_all", c.unionByName(s)),
        tag("intersect", setop_intersect(spark, sf_dir)),
        tag("except", setop_except(spark, sf_dir)),
        tag("distinct", setop_distinct(spark, sf_dir)),
        orders.agg(F.countDistinct("o_custkey").alias("n")).select(
            F.lit("count_distinct").alias("op"), "n"
        ),
    ]
    return reduce(DataFrame.unionByName, legs)


@register(
    "agg_shapes_combined",
    oracle="""
    WITH r AS (
        SELECT COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ),
    c AS (
        SELECT COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    ),
    p AS (
        SELECT ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_O,
               ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_F
        FROM lineitem GROUP BY l_returnflag
    ),
    m AS (
        SELECT amount FROM (
            SELECT l_extendedprice AS price, l_discount AS discount, l_tax AS tax
            FROM lineitem WHERE l_orderkey < 100
        ) UNPIVOT (amount FOR kind IN (price, discount, tax))
    )
    SELECT 'rollup' AS op, (SELECT COUNT(*) FROM r) AS n_groups,
           (SELECT ROUND(SUM(total), 2) FROM r) AS chk
    UNION ALL
    SELECT 'cube', (SELECT COUNT(*) FROM c), (SELECT ROUND(SUM(qty), 2) FROM c)
    UNION ALL
    SELECT 'pivot', (SELECT COUNT(*) FROM p),
           (SELECT ROUND(SUM(COALESCE(qty_O, 0) + COALESCE(qty_F, 0)), 2) FROM p)
    UNION ALL
    SELECT 'melt', (SELECT COUNT(*) FROM m), (SELECT ROUND(SUM(amount), 2) FROM m)
    """,
)
def agg_shapes_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rollup + cube + pivot + melt (unpivot), each reduced to
    (op, n_groups, chk) — one slot in the driver sweep proves all four
    grouping shapes end-to-end. The rollup, cube and pivot legs ARE the
    standalone twins (agg_rollup, agg_cube, agg_pivot). The melt leg stays
    inline: its twin agg_unpivot_melt rounds each amount before the sum,
    which would change ``chk``."""
    from lithops_dataframe_spark.frame import LDFrame

    melted = LDFrame(
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 100)
        .select(
            F.col("l_extendedprice").alias("price"),
            F.col("l_discount").alias("discount"),
            F.col("l_tax").alias("tax"),
        )
    ).melt([], ["price", "discount", "tax"], "kind", "amount")
    legs = [
        ("rollup", agg_rollup(spark, sf_dir), F.sum("total")),
        ("cube", agg_cube(spark, sf_dir), F.sum("sum_qty")),
        (
            "pivot",
            agg_pivot(spark, sf_dir),
            F.sum(F.coalesce("qty_O", F.lit(0.0)) + F.coalesce("qty_F", F.lit(0.0))),
        ),
        ("melt", melted.spark, F.sum("amount")),
    ]
    return reduce(
        DataFrame.unionByName,
        (
            df.agg(F.count(F.lit(1)).alias("n_groups"), F.round(chk, 2).alias("chk")).select(
                F.lit(op).alias("op"), "n_groups", "chk"
            )
            for op, df, chk in legs
        ),
    )


@register(
    "agg_percentiles_approx",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_quantity, 0.5)  AS p50_qty,
           quantile_disc(l_discount, 0.9)  AS p90_disc,
           quantile_disc(l_tax, 0.25)      AS p25_tax
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path: ``approx_percentile`` (mergeable
    Greenwald-Khanna sketch — single pass, bounded memory per group) in
    place of exact ``percentile``'s full-multiset buffer.

    Oracle note: the sketch returns an actual data element with rank error
    ≤ n/accuracy (6 ranks at accuracy=10000, sf0.01). On the grid-valued
    columns used here (~10-50 distinct values, >1000 rows per value) a
    6-rank error can never cross a value boundary, so the result equals
    DuckDB's discrete quantile exactly — verified at the driver's SF.
    Continuous columns (l_extendedprice) would need a tolerance check;
    that's what `agg_percentiles` (exact, small-data twin) covers."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_percentile("l_quantity", 0.5, 10000).alias("p50_qty"),
            F.approx_percentile("l_discount", 0.9, 10000).alias("p90_disc"),
            F.approx_percentile("l_tax", 0.25, 10000).alias("p25_tax"),
        )
    )


@register(
    "agg_rollup_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total,
           GROUPING(o_orderstatus) AS g_status, GROUPING(o_orderpriority) AS g_priority
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        )
    )


@register(
    "agg_cube_flag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty,
           GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
    )


@register(
    "agg_pivot_status_by_flag",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_O,
           ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return out.select("l_returnflag", F.col("O").alias("qty_O"), F.col("F").alias("qty_F"))


@register(
    "agg_winsorized_stats",
    oracle="""
    WITH b AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.05) AS lo,
               quantile_cont(l_extendedprice, 0.95) AS hi
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           COUNT(*) AS n,
           SUM(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END)::BIGINT AS n_clamped_lo,
           SUM(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END)::BIGINT AS n_clamped_hi,
           ROUND(AVG(l_extendedprice), 4) AS mean_raw,
           ROUND(AVG(least(greatest(l_extendedprice, lo), hi)), 4) AS mean_winsorized
    FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
    GROUP BY l.l_returnflag
    """,
)
def agg_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (percentile outlier clamping): per-group p05/p95
    bounds, values clamped into them, with clamp counts and the mean
    before/after — the feature-cleaning pass a training pipeline runs on
    numeric columns before normalization.

    Scale shape: grouped exact percentiles distribute per-key (each
    group's multiset buffers independently — this is the per-KEY case
    where exact stays tractable; the single global-buffer hazard and its
    sketch swap are covered by agg_percentiles_approx). The bounds frame
    is groups×2 doubles — broadcast-joined back, so the clamp pass is a
    narrow map over the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.05)).alias("lo"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("hi"),
    )
    j = li.join(F.broadcast(bounds), "l_returnflag")
    clamped = F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi"))
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("l_extendedprice") < F.col("lo"), 1).otherwise(0)).alias("n_clamped_lo"),
        F.sum(F.when(F.col("l_extendedprice") > F.col("hi"), 1).otherwise(0)).alias("n_clamped_hi"),
        F.round(F.avg("l_extendedprice"), 4).alias("mean_raw"),
        F.round(F.avg(clamped), 4).alias("mean_winsorized"),
    )
