"""The remaining TPC-H query shapes (Q2, Q8, Q9, Q11, Q12, Q15, Q16, Q17,
Q20, Q21), adapted to the driver fixture schema — there is no partsupp
table and no shipmode/commitdate/receiptdate columns, so each adaptation
keeps the query's *distinctive plan shape* while sourcing the missing
relation/columns from what the star schema has:

- q02: correlated MIN subquery matched back (min-unit-price supplier per
  part); partsupp cost list replaced by distinct (part, supplier) offers
  derived from lineitem.
- q08: market-share — share of a nation's suppliers in a region's yearly
  revenue; CASE-sum ratio over a 7-table join.
- q09: product-profit by supplier nation × year; supplycost replaced by a
  retailprice-derived proxy.
- q11: group value HAVING > scalar-fraction-of-total (important stock).
- q12: late-line priority counts grouped by a line attribute
  (linestatus in lieu of shipmode); lateness = shipdate > orderdate + 45d.
- q15: top supplier vs a MAX over an aggregated view (argmax equality).
- q16: distinct-supplier counts per part attribute with NOT-IN exclusion.
- q17: correlated AVG threshold (small-quantity revenue). l_quantity is
  integral in the fixtures so the 0.5*avg threshold is bit-exact in both
  engines (integer sums are exact in double).
- q20: nested semi-join chain (suppliers with excess shipped quantity of
  'red%' parts).
- q21: EXISTS + NOT-EXISTS double self-join (the only late supplier in a
  multi-supplier order).

Reference basis: the reference has no joins/subqueries at all (SURVEY
§2.3: `multi.py` never existed — /root/reference/dataframe/core.py:445
imports it); this file supplies the full TPC-H shape coverage the target
surface requires. All money aggregates rounded identically on both
engines (registry float discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lithops_dataframe_spark.catalog import load_table
from lithops_dataframe_spark.plans.registry import register


def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register(
    "q02_min_cost_supplier",
    oracle="""
    WITH offers AS (
        SELECT l_partkey, l_suppkey,
               MIN(l_extendedprice / l_quantity) AS unit_price
        FROM lineitem GROUP BY 1, 2
    )
    SELECT p.p_partkey, p.p_name, s.s_name, n.n_name, o.unit_price
    FROM offers o
    JOIN part p     ON p.p_partkey = o.l_partkey
    JOIN supplier s ON s.s_suppkey = o.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_type = 'STANDARD' AND p.p_size < 25
      AND o.unit_price = (SELECT MIN(o2.unit_price) FROM offers o2
                          WHERE o2.l_partkey = o.l_partkey)
    """,
)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery matched back to pick the
    cheapest supplier per part. Spark plan: one shuffle builds the
    (part, supplier) offer list; a partition-local window MIN replaces the
    re-aggregate+rejoin (same orderkey-free shuffle reused). Dimension
    joins carry no broadcast hints — part/supplier scale with SF, so AQE
    broadcasts them while they fit and shuffles at 100 TB; nation stays a
    hinted broadcast (constant 25 rows).

    unit_price is deliberately NOT rounded: each engine computes the same
    scalar division l_extendedprice/l_quantity (bit-identical doubles, no
    summation-order drift), while ROUND(x, 4) on a tie-point double
    (e.g. 26.2412499…97) differs between Spark's HALF_UP-on-binary and
    DuckDB's rounding. The driver's %.9g normalization compares the raw
    doubles exactly."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") < 25)
    ).select("p_partkey", "p_name")
    # Semi-join the qualifying-part filter into lineitem BEFORE the offer
    # aggregate (r5: this was applied after, so the groupBy shuffled ALL
    # lineitem offers and the 10x curve charged q02 the full shuffle
    # growth — measured exponent 0.754; filtering first shrinks the
    # shuffle ~12x and the aggregate's input is the only O(n) stage
    # left). AQE broadcasts the part key list while it fits and falls
    # back to a shuffled semi-join at 100 TB.
    li = li.join(
        p.select("p_partkey"), li.l_partkey == F.col("p_partkey"), "left_semi"
    )
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    )
    w = Window.partitionBy("l_partkey")
    best = offers.withColumn("best_price", F.min("unit_price").over(w)).filter(
        F.col("unit_price") == F.col("best_price")
    )
    # attach the part columns to the tiny best-offer frame only
    best = best.join(p, best.l_partkey == p.p_partkey)
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        best.join(s, best.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("p_partkey", "p_name", "s_name", "n_name", "unit_price")
    )


@register(
    "q08_market_share",
    oracle="""
    SELECT year(o.o_orderdate) AS o_year,
           ROUND(SUM(CASE WHEN sn.n_name = 'NATION_1'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS mkt_share
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = cn.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN part p     ON p.p_partkey = l.l_partkey
    WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
    GROUP BY 1
    """,
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — a CASE-sum ratio over the
    full 7-table star (both nation lineages + region + part). The two
    nation lineages are hinted broadcasts (bounded); part/orders/customer/
    supplier scale with SF, so their joins are left to AQE — broadcast
    while small, shuffle at 100 TB. The final per-year aggregate is one
    tiny shuffle."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    cn = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("cn_key")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    j = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(s, li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
    )
    nation_rev = F.sum(F.when(F.col("supp_nation") == "NATION_1", _rev()).otherwise(F.lit(0.0)))
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(F.round(nation_rev / F.sum(_rev()), 4).alias("mkt_share"))
    )


@register(
    "q09_product_type_profit",
    oracle="""
    SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)
                     - 0.4 * p.p_retailprice * l.l_quantity), 4) AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY 1, 2
    """,
)
def q09_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier-nation × order-year for a
    name-matched part subset. The partsupp supplycost is proxied by
    0.4 × retailprice (fixture has no partsupp; SURVEY §2 note). The
    LIKE filter prunes the broadcast part side before the fact join.

    Rounded at 4 decimals, not 2: profit values lie on a 1e-4 grid
    (2-decimal prices × 2-decimal discounts; 0.4×2-decimal×integer), so
    half-cent grid points sit EXACTLY on the 2-decimal rounding boundary
    and engine summation-order noise flips them; at the grid's own
    resolution rounding is noise-immune."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%")).select(
        "p_partkey", "p_retailprice"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = _rev() - 0.4 * F.col("p_retailprice") * F.col("l_quantity")
    j = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
    )
    return j.groupBy("nation", F.year("o_orderdate").alias("o_year")).agg(
        F.round(F.sum(profit), 4).alias("profit")
    )


@register(
    "q11_important_parts",
    oracle="""
    WITH vals AS (
        SELECT l.l_partkey, SUM(l.l_extendedprice * l.l_quantity) AS value
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        WHERE n.n_regionkey = 2
        GROUP BY 1
    )
    SELECT l_partkey, ROUND(value, 2) AS value
    FROM vals
    WHERE value > (SELECT 2.0 * AVG(value) FROM vals)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group value with HAVING > fraction of the
    global total (scalar subquery over the same aggregate). The grouped
    frame is computed once, persisted implicitly via two consumers of one
    shuffle (ReuseExchange covers identical subplans); the global total
    broadcasts as a one-row frame.

    l_extendedprice × integral l_quantity sums are NOT bit-identical
    across engines (different add order), so the threshold comparison
    uses raw sums; the 2×avg cut keeps qualifying parts far from the cut
    line (value gaps ≫ ulp noise). The multiple-of-average criterion is
    scale-free (a fixed fraction-of-total empties as part count grows)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2).select("n_nationkey")
    vals = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("value"))
    )
    total = vals.agg((2.0 * F.avg("value")).alias("cut"))
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("cut"))
        .select("l_partkey", F.round("value", 2).alias("value"))
    )


@register(
    "q12_late_line_priorities",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
)
def q12_late_line_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: late-shipment priority split — CASE-count pivot
    grouped by a line attribute (linestatus stands in for the fixture's
    missing shipmode; lateness = shipped >45 days after order). The
    cross-table inequality stays as the join's residual filter."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") < "1997-01-01").select(
        "l_orderkey", "l_linestatus", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    j = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy("l_linestatus").agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey, SUM(l_extendedprice * (1 - l_discount)) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-07-01'
        GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, ROUND(r.total_rev, 2) AS total_rev
    FROM supplier s JOIN rev r ON r.l_suppkey = s.s_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate view + equality with its own MAX
    (argmax supplier). Each engine compares its own sums against its own
    max, so cross-engine ulp drift cannot change the winner unless two
    suppliers tie to within float noise (revenue gaps ≫ ulp). One
    shuffle on suppkey; the scalar max broadcasts back."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-07-01")
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(_rev()).alias("total_rev"))
    best = rev.agg(F.max("total_rev").alias("best_rev"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(best))
        .filter(F.col("total_rev") == F.col("best_rev"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.round("total_rev", 2).alias("total_rev"))
    )


@register(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND ps.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute with
    a NOT-IN exclusion list. The (part, supplier) association comes from
    lineitem pairs (no partsupp in fixtures); the exclusion is an
    anti-join (NOT IN with non-nullable keys ≡ anti-join), AQE-sized like
    the part join since both sides scale with SF.

    Scale shape (r7): NO standalone pair-distinct — ``countDistinct``
    already dedups suppliers inside its two-phase aggregate, so the old
    ``pairs.distinct()`` was a full-lineitem Exchange for nothing. The
    selective part filter (~16% of parts) joins FIRST, shrinking both
    the anti-join and the distinct-aggregate shuffle by its selectivity
    (the q02 semi-below-the-aggregate lesson applied to Q16); one real
    Exchange total at scale."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(bad, F.col("l_suppkey") == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#2'
      AND l.l_quantity < (SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated AVG threshold — revenue of lines whose
    quantity is below half the part's average. Implemented as a window
    AVG over partkey (one shuffle, no rejoin). l_quantity is integral in
    the fixtures, so AVG = exact-int-sum / count is bit-identical across
    engines and the `<` comparison cannot flip."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2").select("p_partkey")
    branded = li.join(p, li.l_partkey == p.p_partkey)
    w = Window.partitionBy("l_partkey")
    return (
        branded.withColumn("avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "q20_excess_shippers",
    oracle="""
    WITH shipped AS (
        SELECT l_suppkey, l_partkey, SUM(l_quantity) AS qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1, 2
    )
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (
        SELECT sh.l_suppkey FROM shipped sh
        JOIN part p ON p.p_partkey = sh.l_partkey
        WHERE p.p_name LIKE 'red%' AND sh.qty > 45
    )
    """,
)
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join chain — suppliers who shipped
    more than a threshold quantity of any name-matched part in a year.
    The inner aggregate shuffles lineitem once on (suppkey, partkey);
    the follow-on joins are AQE-sized (part and supplier scale with SF;
    nation keeps its broadcast hint). Integral quantities make the
    threshold exact."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    ).select("l_suppkey", "l_partkey", "l_quantity")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select("p_partkey")
    shipped = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 45)
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        s.join(shipped, s.s_suppkey == shipped.l_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o    ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT-EXISTS double self-join — the sole
    late supplier in a multi-supplier finished order (lateness = shipped
    >60 days after order date; fixture has no receipt/commit dates).

    Spark plan avoids both correlated self-joins: the order⋈lines join is
    keyed on orderkey, so the per-order supplier stats (distinct
    suppliers, distinct LATE suppliers) come from window collect_sets over
    the SAME orderkey partitioning — no second shuffle, no re-scan of the
    join for the late-line stream, no semi-join back. Semantically equal
    to the EXISTS pair because `exactly one late supplier AND >1 supplier
    AND this line is late` ⇒ every other supplier is on time.

    Scale note: orders is a fact table — no broadcast hint; AQE
    broadcasts the filtered side while it fits and falls back to a
    shuffle join at 100 TB, where the window then rides the join's
    orderkey exchange."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    lines = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "is_late",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).cast("int"),
    )
    w = Window.partitionBy("l_orderkey")
    sole_late_lines = (
        lines.withColumn("n_supps", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn(
            "n_late_supps",
            F.size(F.collect_set(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).over(w)),
        )
        .filter((F.col("is_late") == 1) & (F.col("n_supps") > 1) & (F.col("n_late_supps") == 1))
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole_late_lines.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
