"""Join-surface queries: every join flavor SURVEY §2.3 requires, each with a
DuckDB oracle. Broadcast hints where a side is provably dimension-sized;
the as-of and range joins go through the scalable operators in
:mod:`lithops_dataframe_spark.operators.joins`.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lithops_dataframe_spark import cache
from lithops_dataframe_spark.catalog import load_table
from lithops_dataframe_spark.operators.joins import asof_join, interval_overlap_join, range_join
from lithops_dataframe_spark.operators.util import values_frame
from lithops_dataframe_spark.plans.registry import register


@register(
    "join_semi_customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select("c_custkey", "c_mktsegment")


@register(
    "join_left_outer_order_counts",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
           ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS total_spent
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@register(
    "join_full_outer_nation_coverage",
    oracle="""
    WITH cn AS (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
    FROM cn FULL OUTER JOIN sn ON c_nationkey = s_nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cn = load_table(spark, sf_dir, "customer").groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_cust"))
    sn = load_table(spark, sf_dir, "supplier").groupBy("s_nationkey").agg(F.count(F.lit(1)).alias("n_supp"))
    return cn.join(sn, cn.c_nationkey == sn.s_nationkey, "full").select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@register(
    "join_cross_region_segment",
    oracle="""
    SELECT r_name, seg.c_mktsegment
    FROM region CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer) seg
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").select("r_name")
    seg = load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()
    return region.crossJoin(seg)


@register(
    "join_theta_price_band",
    oracle="""
    SELECT p_partkey, l_orderkey, l_linenumber
    FROM part JOIN lineitem
      ON l_partkey = p_partkey
     AND l_extendedprice > p_retailprice * 20
    WHERE p_size = 50
    """,
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Equi-key plus non-equi residual: Catalyst plans a hash join on
    # l_partkey = p_partkey with the theta predicate as post-join filter —
    # no nested loop. part scales with SF (the size filter is a constant
    # fraction), so the join is AQE-sized rather than hint-broadcast.
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 50)
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(
            part,
            (li.l_partkey == part.p_partkey) & (li.l_extendedprice > part.p_retailprice * 20),
        )
        .select("p_partkey", "l_orderkey", "l_linenumber")
    )


@register(
    "join_asof_purchase_last_click",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           c.ts AS click_ts, ROUND(c.value, 4) AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.round("value", 4).alias("click_value")
    )
    return asof_join(purchases, clicks, on="ts", by="user_id", matched_on="click_ts")


@register(
    "join_asof_global_market_mark",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, c.ts AS mark_ts, c.mark_value
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT ts, ROUND(MAX(value), 4) AS mark_value
                    FROM events WHERE event_type = 'click' GROUP BY ts) c
      ON p.ts >= c.ts
    """,
)
def join_asof_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL as-of (``by=None``): attach to every purchase the most recent
    click-mark anywhere in the stream. Exercises the range-partitioned
    two-pass carry in :func:`asof_join` — no single-task window. The right
    side is deduped to one row per ts so the nearest match is unique and
    the DuckDB ASOF JOIN oracle is deterministic."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    marks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("ts")
        .agg(F.round(F.max("value"), 4).alias("mark_value"))
    )
    return asof_join(purchases, marks, on="ts", matched_on="mark_ts")


@register(
    "join_asof_nearest_mark",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, ROUND(MAX(value), 4) AS click_value
          FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
    SELECT p.event_id, p.user_id, p.ts, n.ts AS click_ts, n.click_value
    FROM p LEFT JOIN LATERAL (
        SELECT c.ts, c.click_value FROM c
        WHERE c.user_id = p.user_id
        ORDER BY ABS(EPOCH(c.ts) - EPOCH(p.ts)),
                 CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END
        LIMIT 1
    ) n ON TRUE
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped as-of with ``direction='nearest'``: each purchase attaches
    the user's CLOSEST click in either time direction, backward winning
    ties (pandas merge_asof semantics). First driver gate for the nearest
    path — backward+forward carries re-joined on a content-derived key
    (xxhash64 + in-bucket row_number), the r5-hardened code that falls
    back to a pinned checkpoint on nondeterministic lineages. The right
    side dedups to one row per (user, ts) so the nearest match is unique
    and the LATERAL oracle (min |Δt|, backward tie-break) is
    deterministic. Distances compare as epoch-seconds doubles derived
    from the same microsecond values in both engines."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 4).alias("click_value"))
    )
    return asof_join(
        purchases, clicks, on="ts", by="user_id",
        direction="nearest", matched_on="click_ts",
    )


@register(
    "join_range_value_bands",
    oracle="""
    SELECT b.band_id, COUNT(*) AS n_events, ROUND(SUM(e.value), 2) AS sum_value
    FROM events e
    JOIN (VALUES (0, 0.0, 25.0), (1, 25.0, 50.0), (2, 50.0, 100.0), (3, 100.0, 1000.0))
         AS b(band_id, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band_id
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bands = values_frame(
        events.sparkSession,
        [(0, 0.0, 25.0), (1, 25.0, 50.0), (2, 50.0, 100.0), (3, 100.0, 1000.0)],
        "band_id INT, lo DOUBLE, hi DOUBLE",
    )
    joined = range_join(events, bands, "value", "lo", "hi", bucket_width=25.0)
    return joined.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "join_bucketed_colocated",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           ROUND(SUM(l_extendedprice), 2) AS total_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join (SURVEY §2.3's shuffle-free layout): both
    sides written ``bucketBy(join key) + sortBy`` to warehouse tables, then
    joined — Spark plans SortMergeJoin with NO Exchange on either side
    (asserted in tests/test_scale_joins.py; this query proves result
    parity through the driver gate). At 100 TB this is the layout for
    repeated fact⋈fact joins: the shuffle is paid once at write time and
    amortized over every subsequent join on the key."""
    import uuid

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    # unique names per invocation: managed-table LOCATIONS outlive the
    # in-memory catalog across sessions, so a fixed name + overwrite fails
    # with LOCATION_ALREADY_EXISTS in any later session
    suffix = uuid.uuid4().hex[:8]
    lt = cache.table(spark, f"lds_li_bucketed_{suffix}")
    ot = cache.table(spark, f"lds_o_bucketed_{suffix}")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable(lt)
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable(ot)
    lb, ob = spark.table(lt), spark.table(ot)
    return (
        lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


@register(
    "join_salted_skew",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY o_orderstatus
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join (operators/joins.py salted_join): hot keys spread
    over `salt` reducers, right side replicated salt ways; the result must
    equal the plain equi-join bit for bit — that equivalence is what the
    oracle checks."""
    from lithops_dataframe_spark.operators.joins import salted_join

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("o_custkey"))
    return (
        salted_join(o, c, "o_custkey", salt=8)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "join_types_combined",
    oracle="""
    SELECT 'semi' AS kind, COUNT(*) AS n, CAST(SUM(c_custkey) AS BIGINT) AS checksum
    FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
    UNION ALL
    SELECT 'anti', COUNT(*), CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT)
    FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT 'left_outer', COUNT(*), CAST(SUM(n_orders) AS BIGINT)
    FROM (SELECT c_custkey, COUNT(o_orderkey) AS n_orders
          FROM customer LEFT JOIN orders ON o_custkey = c_custkey GROUP BY c_custkey)
    UNION ALL
    SELECT 'full_outer', COUNT(*), CAST(SUM(n_cust + n_supp) AS BIGINT)
    FROM (WITH cn AS (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey),
               sn AS (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey)
          SELECT COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
          FROM cn FULL OUTER JOIN sn ON c_nationkey = s_nationkey)
    UNION ALL
    SELECT 'cross', COUNT(*), CAST(SUM(length(r_name) + length(c_mktsegment)) AS BIGINT)
    FROM region CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer) seg
    UNION ALL
    SELECT 'theta', COUNT(*), CAST(SUM(l_orderkey) AS BIGINT)
    FROM part JOIN lineitem ON l_partkey = p_partkey AND l_extendedprice > p_retailprice * 20
    WHERE p_size = 50
    """,
)
def join_types_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every non-temporal §2.3 join flavor in ONE driver-gate slot. The six
    legs ARE the standalone twins — join_semi, join_anti, join_left_outer,
    join_full_outer, join_cross and join_theta — each reduced to one
    (kind, n, checksum) row, so a capped correctness sweep verifies the
    whole family against the same plans the twins' own oracles check.
    Temporal joins (as-of, range) keep their own slots."""
    legs = [
        ("semi", join_semi, F.sum("c_custkey")),
        ("anti", join_anti, F.coalesce(F.sum("c_custkey"), F.lit(0))),
        ("left_outer", join_left_outer, F.sum("n_orders")),
        ("full_outer", join_full_outer, F.sum(F.col("n_cust") + F.col("n_supp"))),
        ("cross", join_cross, F.sum(F.length("r_name") + F.length("c_mktsegment"))),
        ("theta", join_theta, F.sum("l_orderkey")),
    ]
    return reduce(
        DataFrame.unionByName,
        (
            twin(spark, sf_dir).agg(
                F.lit(kind).alias("kind"),
                F.count(F.lit(1)).alias("n"),
                checksum.cast("long").alias("checksum"),
            )
            for kind, twin, checksum in legs
        ),
    )


_OVERLAP_ORACLE = """
    WITH win AS (
        SELECT w, 100 + 200 * w AS w_lo, 190 + 200 * w AS w_hi
        FROM (SELECT unnest(range(12)) AS w)
    ),
    iv AS (
        SELECT l_orderkey, l_linenumber, l_quantity,
               date_diff('day', DATE '1992-01-01', l_shipdate) AS lo,
               date_diff('day', DATE '1992-01-01', l_shipdate)
                   + 5 + (l_linenumber * 7) % 25 AS hi
        FROM lineitem WHERE l_orderkey <= 600
    )
    SELECT win.w AS window_id,
           COUNT(*)::BIGINT AS n_lines,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM iv JOIN win ON iv.lo < win.w_hi AND win.w_lo < iv.hi
    GROUP BY win.w
"""


@register("join_interval_overlap_windows", oracle=_OVERLAP_ORACLE)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval OVERLAP join (the missing sibling of the
    point-in-interval range_join): shipping intervals
    [l_shipdate, l_receiptdate) against 12 maintenance windows, both sides
    bucketed so candidates meet on an equi-join with each pair attributed
    to the bucket holding the overlap's start (duplicate-free by
    construction — no distinct). The oracle runs the plain theta join;
    the fixture has no receipt date, so the interval end is a
    deterministic 5-29 day shipping window derived from the line
    number."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 600)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            F.datediff(F.col("l_shipdate"), F.lit("1992-01-01").cast("date")).alias("lo"),
            (
                F.datediff(F.col("l_shipdate"), F.lit("1992-01-01").cast("date"))
                + 5
                + (F.col("l_linenumber") * 7) % 25
            ).alias("hi"),
        )
    )
    win = spark.range(12).select(
        F.col("id").cast("int").alias("w"),
        (100 + 200 * F.col("id")).cast("int").alias("w_lo"),
        (190 + 200 * F.col("id")).cast("int").alias("w_hi"),
    )
    joined = interval_overlap_join(li, win, "lo", "hi", "w_lo", "w_hi", bucket_width=64.0)
    return joined.groupBy(F.col("w").alias("window_id")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "join_asof_tolerance_attribution",
    oracle="""
    WITH j AS (
        SELECT p.event_id, p.user_id, p.ts,
               c.ts AS click_ts, ROUND(c.value, 4) AS click_value
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    )
    SELECT event_id, user_id, ts,
           CASE WHEN click_ts >= ts - INTERVAL '15 minutes'
                THEN click_ts END AS click_ts,
           CASE WHEN click_ts >= ts - INTERVAL '15 minutes'
                THEN click_value END AS click_value
    FROM j
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a TOLERANCE (pandas ``merge_asof(tolerance=...)``
    parity, round 6): attribute each purchase to the user's most recent
    click, but only if it happened within the last 15 minutes — stale
    matches are discarded and the purchase keeps null attribution (the
    marketing attribution-window semantics; an unbounded as-of would
    credit a click from days ago). The tolerance is a zero-shuffle
    post-predicate on the matched timestamp (operators/joins.py), so the
    plan is identical to the plain as-of plus one projection."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.round("value", 4).alias("click_value")
    )
    return asof_join(
        purchases,
        clicks,
        on="ts",
        by="user_id",
        matched_on="click_ts",
        tolerance="15 minutes",
    )
