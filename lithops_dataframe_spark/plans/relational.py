"""Relational query library over the star-schema fixtures.

TPC-H-shaped queries (scan → filter → join → aggregate → sort) covering the
relational surface SURVEY.md §2.2-§2.8 requires: projections/filters, all
join flavors, group-by aggregation, windows, sorts/limits/top-k, set ops,
scalar functions (string/date/JSON). The reference has no relational layer
(joins ABSENT, SURVEY §2.3 — only a vestigial ``from .multi import
_maybe_align_partitions`` at ``/root/reference/dataframe/core.py:445``), so
this module is the Spark-first realization of its *intended* capability
surface.

Scale discipline applied throughout:
- bounded dimension tables (region/nation — constant row counts) join via
  ``F.broadcast``; SF-scaling sides (customer/supplier/part/orders) carry
  NO hint — AQE broadcasts them while they fit the threshold and falls
  back to shuffle joins at 100 TB, where a forced hint would OOM the
  executors;
- aggregations are expressed declaratively so Catalyst plans
  partial→exchange→final hash aggregation (map-side combine);
- top-k is ``orderBy().limit(k)`` which Spark plans as
  ``TakeOrderedAndProject`` (per-partition heap + driver merge, no global
  sort);
- every aggregate double is rounded identically in the builder and oracle
  (see plans.registry docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lithops_dataframe_spark.catalog import load_table
from lithops_dataframe_spark.plans.registry import register


# --------------------------------------------------------------------------
# Q1 — pricing summary (TPC-H Q1 shape): full-scan groupBy aggregation.
# Catalyst plans HashAggregate(partial) → Exchange → HashAggregate(final);
# the 4-group output makes the shuffle trivial at any scale.
# --------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                       AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                  AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                       AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                                  AS avg_price,
           ROUND(AVG(l_discount), 4)                                       AS avg_disc,
           COUNT(*)                                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Q3 — shipping priority (TPC-H Q3 shape): selective join + agg + top-k.
# customer scales with SF → AQE-sized join (broadcast while it fits);
# TakeOrderedAndProject for top-10.
# --------------------------------------------------------------------------
@register(
    "q03_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1998-03-15'
      AND l_shipdate  > DATE '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("date"))
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-03-15").cast("date"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q5 — revenue by nation (TPC-H Q5 shape) — THE FLAGSHIP (SURVEY §7 M1).
# Six-table star join: the two fact tables (lineitem⋈orders) shuffle on
# orderkey; nation and region keep broadcast hints (bounded), while
# customer and supplier — SF-scaling — are AQE-sized so the same plan
# broadcasts at bench scale and degrades to shuffle joins at 100 TB.
# Local-join condition c_nationkey = s_nationkey expressed as a post-join
# filter, as in TPC-H.
# --------------------------------------------------------------------------
@register(
    "q05_revenue_by_nation",
    oracle="""
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate <  DATE '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC
    """,
)
def q05_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        # at most 25 nations: one task sorts them, no range-partition sampling job
        .coalesce(1)
        .sortWithinPartitions(F.col("revenue").desc())
    )


# --------------------------------------------------------------------------
# Q6 — forecast revenue (TPC-H Q6 shape): pure filter + global agg.
# All three predicates push down to the parquet scan (row-group skipping).
# --------------------------------------------------------------------------
@register(
    "q06_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01'
      AND l_shipdate <  DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
