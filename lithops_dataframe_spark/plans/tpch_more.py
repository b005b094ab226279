"""Deeper TPC-H-shaped relational coverage over the driver fixtures
(adapted to the fixture schema: no commitdate/shipmode/comment columns) —
each exercises a distinct plan shape the first four headliners don't:

- q04-like: EXISTS decorrelation → left-semi join + aggregate.
- q07-like: two independent dimension lineages joined to the same facts
  (supplier-nation × customer-nation volume matrix) with a disjunctive
  cross-nation predicate.
- q10-like: returned-item revenue top-k over a 4-table join
  (TakeOrderedAndProject over a groupBy).
- q14-like: conditional aggregation (promo revenue share) — CASE inside
  SUM, single scan.
- q19-like: OR-of-ANDs multi-attribute predicate join (brand/size/qty
  bands) — tests predicate normalization and pushdown through a join.

All money aggregates rounded to 2 decimals on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lithops_dataframe_spark.catalog import load_table
from lithops_dataframe_spark.plans.registry import register


@register(
    "q04_priority_with_late_lines",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q04_priority_with_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join (no fact duplication),
    then a small-key aggregate."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    hit = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return hit.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "q07_nation_volume",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
    GROUP BY 1, 2, 3
    """,
)
def q07_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: same fact joined through two dimension lineages
    (supplier→nation, customer→nation) with a disjunctive pair predicate.

    The pair disjunction spans both lineages so Catalyst can't factor it,
    but its IMPLIED per-lineage constraint (each nation ∈ {N1, N2}) is
    applied by hand BELOW the fact joins: customer and supplier are each
    inner-joined to the 2-row filtered nation frame first, so the orders
    join sees only ~2/N of customers and the lineitem join only ~2/N of
    suppliers — at 100 TB the fact shuffle carries the nation-pair slice,
    not the whole join (the q02-exponent trick, r5 verdict task 6). The
    residual pair filter then runs on the already-reduced join output."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = (
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    )
    cn = n.withColumnRenamed("n_name", "cust_nation").withColumnRenamed("n_nationkey", "cn_key")
    sn = n.withColumnRenamed("n_name", "supp_nation").withColumnRenamed("n_nationkey", "sn_key")
    c2 = (
        c.select("c_custkey", "c_nationkey")
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .select("c_custkey", "cust_nation")
    )
    s2 = (
        s.select("s_suppkey", "s_nationkey")
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "supp_nation")
    )
    o2 = (
        o.select("o_orderkey", "o_custkey")
        .join(c2, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "cust_nation")
    )
    j = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
        .join(s2, li.l_suppkey == F.col("s_suppkey"))
        .join(o2, li.l_orderkey == F.col("o_orderkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))


@register(
    "q10_returned_items_topk",
    oracle="""
    WITH rev AS (
        SELECT c.c_custkey, c.c_name, n.n_name,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS raw_rev
        FROM lineitem l
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n   ON n.n_nationkey = c.c_nationkey
        WHERE l.l_returnflag = 'R'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-07-01'
        GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY raw_rev DESC, c_custkey ASC) AS rk FROM rev
    )
    SELECT c_custkey, c_name, n_name, ROUND(raw_rev, 2) AS revenue
    FROM ranked WHERE rk <= 20
    """,
)
def q10_returned_items_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: 4-table join → groupBy → top-20
    (TakeOrderedAndProject; deterministic tie-break on custkey)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .join(c.select("c_custkey", "c_name", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("raw_rev"))
    )
    return (
        rev.orderBy(F.col("raw_rev").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select("c_custkey", "c_name", "n_name", F.round("raw_rev", 2).alias("revenue"))
    )


@register(
    "q13_customer_order_distribution",
    oracle="""
    WITH per_cust AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join preserving zero-order customers,
    then a second aggregation over the first's output (two exchanges,
    second one tiny)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q18_large_volume_customers",
    oracle="""
    WITH big AS (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING SUM(l_quantity) > 150
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           ROUND(o.o_totalprice, 2) AS totalprice,
           ROUND(SUM(l.l_quantity), 2) AS total_qty
    FROM orders o
    JOIN big b      ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery over an aggregate (orders whose line
    quantities sum past a threshold) → semi-join-shaped filter, then the
    detail join re-aggregates. The `big` aggregate shuffles once on
    orderkey and its output is small."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tq"))
        .filter(F.col("tq") > 150)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(big, o.o_orderkey == big.big_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("totalprice"),
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
    )


@register(
    "q22_global_sales_opportunity",
    oracle="""
    WITH avg_bal AS (
        SELECT AVG(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0
    ),
    rich_idle AS (
        SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
        FROM customer c, avg_bal
        WHERE c.c_acctbal > avg_bal.ab
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    )
    SELECT c_nationkey, COUNT(*) AS numcust, ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM rich_idle GROUP BY c_nationkey
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (global average) + NOT EXISTS
    anti-join, grouped. The scalar aggregate broadcasts as a literal-like
    one-row frame via cross join. The anti-join is on "no RECENT orders"
    (orderdate >= 2000-01-01) rather than "no orders at all" — the fixture
    generator gives virtually every customer at least one order, so the
    unbounded form returned 0 rows at every fixture SF and its driver row
    proved nothing (r5 verdict task 5); the date-bounded form keeps the
    identical plan shape and is non-vacuous at sf0.001+ (5 / 55 rich-idle
    customers at sf0.001 / sf0.01). The anti-join side is pre-filtered by
    the date BEFORE the shuffle, so at 100 TB only the recent slice of
    orders moves."""
    c = load_table(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2000-01-01"
    ).select("o_custkey")
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("ab"))
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return idle.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


@register(
    "q14_promo_revenue_share",
    oracle="""
    SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_pct
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1996-02-01'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation in one scan; the part
    join is AQE-sized (part scales with SF)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-02-01")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(p, li.l_partkey == p.p_partkey)
    return j.agg(
        F.round(
            100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))) / F.sum(rev),
            4,
        ).alias("promo_pct")
    )


@register(
    "q19_brand_quantity_bands",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 40)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity >= 20 AND l.l_quantity <= 50)
    """,
)
def q19_brand_quantity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate spanning both join sides —
    Catalyst pushes the part-only disjuncts below the join and keeps the
    mixed conjuncts as the join filter."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(p, li.l_partkey == p.p_partkey)
    band = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 40))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(20, 50))
    )
    return j.filter(band).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )
