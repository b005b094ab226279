"""SQL entry-point queries — the engine's ``spark.sql`` surface over the
registered fixture views, exercising SQL-only constructs (GROUPING SETS,
correlated scalar subqueries, CTE + window in pure SQL) that the
DataFrame-API queries don't: a user of the engine can hand it ANSI SQL and
Catalyst decorrelates/plans it.

The Spark SQL text and DuckDB oracle text are intentionally near-identical
— the point is that both engines execute the same declarative statement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lithops_dataframe_spark import cache
from lithops_dataframe_spark.catalog import register_views
from lithops_dataframe_spark.plans.registry import register

_GROUPING_SETS = """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""

_CORRELATED = """
    SELECT c_custkey, c_nationkey, ROUND(c_acctbal, 2) AS acctbal
    FROM customer c
    WHERE c_acctbal > (
        SELECT AVG(c2.c_acctbal) FROM customer c2
        WHERE c2.c_nationkey = c.c_nationkey
    )
"""

_CTE_WINDOW = """
    WITH nat_rev AS (
        SELECT c.c_nationkey AS nationkey, o.o_orderkey, o.o_totalprice
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    ranked AS (
        SELECT nationkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY nationkey
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        FROM nat_rev
    )
    SELECT nationkey, o_orderkey, ROUND(o_totalprice, 2) AS totalprice, rk
    FROM ranked WHERE rk <= 3
"""


def _sql(spark: SparkSession, sf_dir: str, stmt: str) -> DataFrame:
    for name in register_views(spark, sf_dir):
        cache.temp_view(spark, name)
    return spark.sql(stmt)


@register("sql_grouping_sets", oracle=_GROUPING_SETS)
def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, _GROUPING_SETS)


@register("sql_correlated_subquery", oracle=_CORRELATED)
def sql_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — Catalyst decorrelates to an aggregate
    + join (no per-row re-execution), same as DuckDB's unnesting."""
    return _sql(spark, sf_dir, _CORRELATED)


@register("sql_cte_window_topn", oracle=_CTE_WINDOW)
def sql_cte_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, _CTE_WINDOW)


# Recursive CTE (Spark 4 WITH RECURSIVE): BOM-style transitive closure —
# part p "contains" parts 2p and 2p+1 when they exist, so each root < 8
# explodes a binary containment tree over REAL part keys. Same statement
# runs verbatim on DuckDB; Spark executes it as an iterative union loop
# (depth ≈ log2(|part|)), the shape hierarchical/graph traversals take
# without a dedicated graph engine.
_RECURSIVE = """
    WITH RECURSIVE comp(root, pkey) AS (
        SELECT p_partkey, p_partkey FROM part WHERE p_partkey < 8
        UNION ALL
        -- r12: child keys via a 2-row VALUES table so the per-level join
        -- is an EQUI-join (hash-joinable on p_partkey = 2*pkey + i) —
        -- the original OR-disjunction form planned as a nested-loop join
        -- on every recursion level. A part row can never match both
        -- branches (2k+1 != 2k+2), so the produced multiset is identical;
        -- the same text runs verbatim on DuckDB.
        SELECT c.root, p.p_partkey
        FROM comp c
        JOIN (VALUES (1), (2)) AS off(i) ON TRUE
        JOIN part p ON p.p_partkey = 2 * c.pkey + off.i
        WHERE p.p_partkey < 2048  -- bounded tree depth (~11 levels) at any SF
    )
    SELECT root, COUNT(*) AS n_components,
           CAST(SUM(pkey) AS BIGINT) AS key_checksum
    FROM comp GROUP BY root
"""


@register("sql_recursive_cte", oracle=_RECURSIVE)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, _RECURSIVE)
