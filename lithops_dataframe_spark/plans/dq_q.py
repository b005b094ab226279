"""Data-quality constraint suite (Deequ/Great-Expectations-shaped) — the
validation pass a production pipeline runs before promoting a batch.

One query emits a constraint-report table: each row is (table, constraint,
metric, passed). All metrics are single-pass aggregates or equi-join
anti-counts, so the whole suite costs one scan per table plus one slim
join for referential integrity — the shape that lets a 100 TB batch be
validated as part of its write job rather than a separate read.

The oracle recomputes every metric in SQL, so both the metric VALUES and
the pass/fail verdicts are hash-gated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lithops_dataframe_spark import cache
from lithops_dataframe_spark.catalog import load_table
from lithops_dataframe_spark.functions import text as TX
from lithops_dataframe_spark.operators.util import values_frame
from lithops_dataframe_spark.plans.registry import register

_DQ_ORACLE = """
    WITH o AS (
        SELECT COUNT(*) AS n,
               COUNT(o_custkey) AS nn_cust,
               COUNT(DISTINCT o_orderkey) AS dist_ok,
               SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS pos_price
        FROM orders
    ),
    li AS (
        SELECT COUNT(*) AS n,
               SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS qty_in_range,
               SUM(CASE WHEN l_discount BETWEEN 0 AND 1 THEN 1 ELSE 0 END) AS disc_in_range
        FROM lineitem
    ),
    ri AS (
        SELECT COUNT(*) AS orphans
        FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IS NULL
    )
    SELECT 'orders' AS tbl, 'complete(o_custkey)' AS check_name,
           nn_cust::BIGINT AS metric, (nn_cust = n) AS passed FROM o
    UNION ALL
    SELECT 'orders', 'unique(o_orderkey)', dist_ok::BIGINT, dist_ok = n FROM o
    UNION ALL
    SELECT 'orders', 'positive(o_totalprice)', pos_price::BIGINT, pos_price = n FROM o
    UNION ALL
    SELECT 'lineitem', 'range(l_quantity,1,50)', qty_in_range::BIGINT,
           qty_in_range = n FROM li
    UNION ALL
    SELECT 'lineitem', 'range(l_discount,0,1)', disc_in_range::BIGINT,
           disc_in_range = n FROM li
    UNION ALL
    SELECT 'lineitem', 'ref(l_orderkey->orders)', orphans::BIGINT, orphans = 0 FROM ri
"""


@register("dq_constraint_suite", oracle=_DQ_ORACLE)
def dq_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint report over the star schema: completeness, uniqueness,
    value-range, and referential-integrity checks — each a single-pass
    aggregate (orders and lineitem are each scanned once; the RI check is
    one left-anti count on the join key)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    o_m = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_custkey").alias("nn_cust"),
        F.count_distinct("o_orderkey").alias("dist_ok"),
        F.sum((F.col("o_totalprice") > 0).cast("int")).alias("pos_price"),
    )
    li_m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").between(1, 50).cast("int")).alias("qty_in_range"),
        F.sum(F.col("l_discount").between(0, 1).cast("int")).alias("disc_in_range"),
    )
    orphans = (
        li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("orphans"))
    )

    def row(src, tbl, name, metric, passed):
        return src.select(
            F.lit(tbl).alias("tbl"),
            F.lit(name).alias("check_name"),
            F.col(metric).cast("long").alias("metric"),
            passed.alias("passed"),
        )

    return (
        row(o_m, "orders", "complete(o_custkey)", "nn_cust", F.col("nn_cust") == F.col("n"))
        .unionAll(row(o_m, "orders", "unique(o_orderkey)", "dist_ok", F.col("dist_ok") == F.col("n")))
        .unionAll(
            row(o_m, "orders", "positive(o_totalprice)", "pos_price", F.col("pos_price") == F.col("n"))
        )
        .unionAll(
            row(
                li_m,
                "lineitem",
                "range(l_quantity,1,50)",
                "qty_in_range",
                F.col("qty_in_range") == F.col("n"),
            )
        )
        .unionAll(
            row(
                li_m,
                "lineitem",
                "range(l_discount,0,1)",
                "disc_in_range",
                F.col("disc_in_range") == F.col("n"),
            )
        )
        .unionAll(row(orphans, "lineitem", "ref(l_orderkey->orders)", "orphans", F.col("orphans") == 0))
    )


_SKEW_TOPK = 10

_SKEW_ORACLE = f"""
    WITH kc AS (
        SELECT o_custkey AS k, COUNT(*)::BIGINT AS c FROM orders GROUP BY o_custkey
    ),
    st AS (
        SELECT COUNT(*)::BIGINT AS n_keys, SUM(c)::BIGINT AS n_rows FROM kc
    ),
    top AS (
        SELECT k, c, ROW_NUMBER() OVER (ORDER BY c DESC, k) AS rn FROM kc
    )
    SELECT t.k AS key, t.c AS cnt,
           (t.c * 1000000 // st.n_rows)::BIGINT AS share_ppm,
           (t.c * st.n_keys * 1000 // st.n_rows)::BIGINT AS skew_permille,
           t.rn::INT AS rank
    FROM top t CROSS JOIN st WHERE t.rn <= {_SKEW_TOPK}
"""


@register("dq_key_skew_report", oracle=_SKEW_ORACLE)
def dq_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis — the report you run BEFORE a big join to
    decide whether it needs salting or AQE skew handling: per-key row
    counts on the join key (here orders.o_custkey), the top heavy hitters
    with their exact parts-per-million share, and a skew factor
    (key count ÷ mean count, as integer permille — 1000 = perfectly
    uniform). All-BIGINT; ties in the cut break by key.

    Scale shape: one hash aggregate on the key (map-side combine), a
    two-long-row global stat frame broadcast back, and the heavy-hitter
    cut as orderBy+limit — TakeOrderedAndProject keeps a k-row heap per
    partition and merges on the driver, so there is NO single-task global
    sort over the key table (a row_number window here would be one); the
    rank is then numbered over the k surviving rows only. This is the
    cheap probe that justifies the salting strategy join_salted_skew
    demonstrates."""
    o = load_table(spark, sf_dir, "orders")
    kc = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    st = kc.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("c").cast("long").alias("n_rows"),
    )
    from pyspark.sql.window import Window as W

    top = (
        kc.orderBy(F.col("c").desc(), F.col("k"))
        .limit(_SKEW_TOPK)
        .withColumn(
            "rn", F.row_number().over(W.orderBy(F.col("c").desc(), F.col("k")))
        )
    )
    return top.crossJoin(F.broadcast(st)).select(
        F.col("k").alias("key"),
        F.col("c").alias("cnt"),
        F.expr("c * 1000000 div n_rows").cast("long").alias("share_ppm"),
        F.expr("c * n_keys * 1000 div n_rows").cast("long").alias("skew_permille"),
        F.col("rn").cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# profile drift between two batch windows (schema-drift / data-drift gate)
# ---------------------------------------------------------------------------
_DRIFT_SPLIT = "2024-01-16"

_DRIFT_ORACLE = f"""
    WITH e AS (
        SELECT event_type, user_id,
               (ts < TIMESTAMP '{_DRIFT_SPLIT}') AS in_a,
               (FLOOR(value * 100 + 0.5))::BIGINT AS cents
        FROM events
    ),
    agg AS (
        SELECT event_type,
               SUM(CASE WHEN in_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
               SUM(CASE WHEN in_a THEN 0 ELSE 1 END)::BIGINT AS n_b,
               COUNT(DISTINCT CASE WHEN in_a THEN user_id END)::BIGINT AS users_a,
               COUNT(DISTINCT CASE WHEN NOT in_a THEN user_id END)::BIGINT AS users_b,
               SUM(CASE WHEN in_a THEN cents ELSE 0 END)::BIGINT AS cents_a,
               SUM(CASE WHEN in_a THEN 0 ELSE cents END)::BIGINT AS cents_b
        FROM e GROUP BY event_type
    ),
    uu AS (
        SELECT event_type, user_id,
               MAX(CASE WHEN in_a THEN 1 ELSE 0 END) AS ha,
               MAX(CASE WHEN in_a THEN 0 ELSE 1 END) AS hb
        FROM e GROUP BY event_type, user_id
    ),
    nu AS (
        SELECT event_type,
               SUM(CASE WHEN hb = 1 AND ha = 0 THEN 1 ELSE 0 END)::BIGINT AS n_new_users,
               SUM(CASE WHEN ha = 1 AND hb = 0 THEN 1 ELSE 0 END)::BIGINT AS n_churned_users
        FROM uu GROUP BY event_type
    )
    SELECT a.event_type, n_a, n_b,
           (CASE WHEN n_a > 0 THEN n_b * 1000 // n_a END)::BIGINT
               AS volume_ratio_permille,
           users_a, users_b, cents_a, cents_b,
           (CASE WHEN cents_a * n_b <> 0
                 THEN (cents_b * n_a * 1000) // (cents_a * n_b) END)::BIGINT
               AS mean_shift_permille,
           n_new_users, n_churned_users
    FROM agg a JOIN nu USING (event_type)
"""


@register("dq_profile_drift", oracle=_DRIFT_ORACLE)
def dq_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-over-batch profile drift: compare each event series' volume,
    distinct-user, and mean-value profile across two batch windows and
    report the drift ratios plus user churn — the promotion gate that
    catches upstream breakage (a feed going quiet, a value-unit change,
    an audience swap) before a bad batch lands in the lake.

    Scale shape: TWO exchanges total — one conditional hash aggregate on
    event_type (counts/sums for both windows in a single scan, partial
    map-side) and one (event_type, user_id) aggregate that feeds the
    new/churned-user rollup; no joins against a second scan of the fact.
    Exactness: all-BIGINT half-up cents; drift ratios are integer-permille
    floor divisions (bound: Σcents · n · 1000 must fit BIGINT — at 100 TB
    partition the report by day and the per-group magnitudes stay far
    below 2^63)."""
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(_DRIFT_SPLIT).cast("timestamp")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    e = ev.select(
        "event_type",
        "user_id",
        (F.col("ts") < split).alias("in_a"),
        cents.alias("cents"),
    )
    in_a = F.col("in_a")
    agg = e.groupBy("event_type").agg(
        F.sum(F.when(in_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(in_a, 0).otherwise(1)).cast("long").alias("n_b"),
        F.count_distinct(F.when(in_a, F.col("user_id"))).cast("long").alias("users_a"),
        F.count_distinct(F.when(~in_a, F.col("user_id"))).cast("long").alias("users_b"),
        F.sum(F.when(in_a, F.col("cents")).otherwise(0)).cast("long").alias("cents_a"),
        F.sum(F.when(in_a, 0).otherwise(F.col("cents"))).cast("long").alias("cents_b"),
    )
    uu = e.groupBy("event_type", "user_id").agg(
        F.max(F.when(in_a, 1).otherwise(0)).alias("ha"),
        F.max(F.when(in_a, 0).otherwise(1)).alias("hb"),
    )
    nu = uu.groupBy("event_type").agg(
        F.sum(F.when((F.col("hb") == 1) & (F.col("ha") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n_new_users"),
        F.sum(F.when((F.col("ha") == 1) & (F.col("hb") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n_churned_users"),
    )
    return (
        agg.join(nu, "event_type")
        .select(
            "event_type",
            "n_a",
            "n_b",
            # zero-denominator guards (edge-fixture r8): a series empty on
            # either side of the split is NULL-ratio on both engines, not
            # an ANSI DIVIDE_BY_ZERO crash
            F.expr("CASE WHEN n_a > 0 THEN n_b * 1000 div n_a END")
            .cast("long")
            .alias("volume_ratio_permille"),
            "users_a",
            "users_b",
            "cents_a",
            "cents_b",
            F.expr(
                "CASE WHEN cents_a * n_b <> 0"
                " THEN (cents_b * n_a * 1000) div (cents_a * n_b) END"
            )
            .cast("long")
            .alias("mean_shift_permille"),
            "n_new_users",
            "n_churned_users",
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity cell-size audit (privacy gate before sharing/training)
# ---------------------------------------------------------------------------
_KANON_K = 5

_KANON_ORACLE = f"""
    WITH cells AS (
        SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
               COUNT(*)::BIGINT AS n
        FROM customer GROUP BY 1, 2
    )
    SELECT nationkey, mktsegment, n,
           (n < {_KANON_K}) AS at_risk
    FROM cells
"""


@register("dq_k_anonymity_cells", oracle=_KANON_ORACLE)
def dq_k_anonymity_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: the size of every quasi-identifier cell
    (nation × market segment) with an at-risk flag for cells below k=5 —
    the suppression/generalization worklist a privacy review produces
    before a dataset is shared or trained on.

    Scale shape: one hash aggregate with map-side partials; output is
    bounded by the quasi-identifier domain, not the row count. All
    BIGINTs."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select("nationkey", "mktsegment", "n", (F.col("n") < _KANON_K).alias("at_risk"))
    )


# ---------------------------------------------------------------------------
# winsorization report (robust preprocessing: exact p05/p95 clamp)
# ---------------------------------------------------------------------------
_WINSOR_ORACLE = """
    WITH c AS (
        SELECT event_type, event_id,
               (FLOOR(value * 100 + 0.5))::BIGINT AS cents
        FROM events WHERE value IS NOT NULL
    ),
    rk AS (
        SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cents, event_id) AS r,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM c
    ),
    bounds AS (
        SELECT event_type, MAX(n)::BIGINT AS n,
               MAX(CASE WHEN r = GREATEST(1, (n * 5 + 99) // 100)
                        THEN cents END)::BIGINT AS lo_cents,
               MAX(CASE WHEN r = (n * 95 + 99) // 100
                        THEN cents END)::BIGINT AS hi_cents,
               SUM(cents)::BIGINT AS sum_raw_cents
        FROM rk GROUP BY event_type
    )
    SELECT b.event_type, b.n, b.lo_cents, b.hi_cents, b.sum_raw_cents,
           SUM(CASE WHEN c.cents < b.lo_cents THEN b.lo_cents
                    WHEN c.cents > b.hi_cents THEN b.hi_cents
                    ELSE c.cents END)::BIGINT AS sum_winsorized_cents,
           SUM(CASE WHEN c.cents < b.lo_cents THEN 1 ELSE 0 END)::BIGINT
               AS n_clamped_low,
           SUM(CASE WHEN c.cents > b.hi_cents THEN 1 ELSE 0 END)::BIGINT
               AS n_clamped_high
    FROM c JOIN bounds b USING (event_type)
    GROUP BY 1, 2, 3, 4, 5
"""


@register("events_winsorize_stats", oracle=_WINSOR_ORACLE)
def events_winsorize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization report: per series, the EXACT p05/p95 bounds (rank
    arithmetic on integer cents — ceil(q·n) order statistics, not an
    approximate sketch) and the clamped sum plus clamp counts — the
    robust-preprocessing step that tames heavy-tailed values before
    model features are computed, with the audit numbers a reviewer
    checks.

    Scale shape: one Exchange on event_type for the rank window, a
    per-type bounds aggregate, then a broadcast of the tiny bounds frame
    back onto the same already-partitioned scan for the clamped second
    pass — two aggregates, one shuffle of the fact. All-BIGINT outputs;
    the order statistic is deterministic (unique (cents, event_id) tie
    break)."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    # winsorization operates on PRESENT values only — and NULL cents must
    # not reach the rank window at all: Spark sorts NULLS FIRST ascending,
    # DuckDB NULLS LAST, so a NULL row silently shifts which row holds the
    # p05/p95 rank (edge-fixture r8 catch)
    c = ev.where(F.col("value").isNotNull()).select(
        "event_type", "event_id", cents.alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wn = Window.partitionBy("event_type")
    rk = c.select(
        "event_type",
        "cents",
        F.row_number().over(w).cast("long").alias("r"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
    )
    bounds = rk.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.max(
            F.when(
                F.col("r") == F.greatest(F.lit(1), F.expr("(n * 5 + 99) div 100")),
                F.col("cents"),
            )
        )
        .cast("long")
        .alias("lo_cents"),
        F.max(
            F.when(F.col("r") == F.expr("(n * 95 + 99) div 100"), F.col("cents"))
        )
        .cast("long")
        .alias("hi_cents"),
        F.sum("cents").cast("long").alias("sum_raw_cents"),
    )
    clamped = c.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "n",
        "lo_cents",
        "hi_cents",
        "sum_raw_cents",
        F.when(F.col("cents") < F.col("lo_cents"), F.col("lo_cents"))
        .when(F.col("cents") > F.col("hi_cents"), F.col("hi_cents"))
        .otherwise(F.col("cents"))
        .alias("wc"),
        # NULL cents (all-NULL value group) must count as NOT clamped on
        # both engines — the oracle's CASE ... ELSE 0 END maps NULL → 0,
        # a bare cast would propagate NULL into the SUM (edge-fixture r8)
        F.when(F.col("cents") < F.col("lo_cents"), F.lit(1)).otherwise(0).cast("long").alias("cl"),
        F.when(F.col("cents") > F.col("hi_cents"), F.lit(1)).otherwise(0).cast("long").alias("ch"),
    )
    return clamped.groupBy(
        "event_type", "n", "lo_cents", "hi_cents", "sum_raw_cents"
    ).agg(
        F.sum("wc").cast("long").alias("sum_winsorized_cents"),
        F.sum("cl").cast("long").alias("n_clamped_low"),
        F.sum("ch").cast("long").alias("n_clamped_high"),
    )


# ---------------------------------------------------------------------------
# snapshot reconciliation diff (crawl-over-crawl corpus accounting)
# ---------------------------------------------------------------------------
# Snapshot B is a DETERMINISTIC simulated next crawl of the documents
# table: docs with doc_id % 17 = 3 vanish, docs with doc_id % 13 = 2 get
# re-extracted text (upper-cased), docs with doc_id % 11 = 0 reappear
# under a new id (doc_id + 1000000). Both engines derive B identically.
_SNAPDIFF_ORACLE = """
    WITH a AS (
        SELECT doc_id, md5(text) AS fp, n_chars FROM documents
    ),
    b AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 13 = 2 THEN upper(text) ELSE text END) AS fp,
               n_chars
        FROM documents WHERE doc_id % 17 <> 3
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, md5(text) AS fp, n_chars
        FROM documents WHERE doc_id % 11 = 0
    ),
    j AS (
        SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
               CASE WHEN a.doc_id IS NULL THEN 'added'
                    WHEN b.doc_id IS NULL THEN 'removed'
                    WHEN a.fp <> b.fp THEN 'changed'
                    ELSE 'unchanged' END AS status,
               COALESCE(a.n_chars, 0) AS ca, COALESCE(b.n_chars, 0) AS cb
        FROM a FULL JOIN b ON a.doc_id = b.doc_id
    )
    SELECT status, COUNT(*)::BIGINT AS n_docs,
           SUM(ca)::BIGINT AS sum_chars_a, SUM(cb)::BIGINT AS sum_chars_b
    FROM j GROUP BY status
"""


@register("dq_snapshot_diff", oracle=_SNAPDIFF_ORACLE)
def dq_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: diff two corpus crawls by content
    fingerprint (md5 of the text) and report added / removed / changed /
    unchanged document counts with char-volume on each side — the
    crawl-over-crawl accounting every corpus refresh publishes before
    the new snapshot is promoted.

    Scale shape: fingerprints are narrow per-row hashes computed in the
    scan; the diff is ONE full outer join on doc_id (hash-partitioned
    both sides) followed by a 4-group aggregate — no pairwise content
    comparison anywhere. md5 is byte-identical across engines, so the
    changed/unchanged split hash-matches exactly."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.select("doc_id", F.md5("text").alias("fp"), "n_chars")
    docs_b = load_table(spark, sf_dir, "documents")
    b = (
        docs_b.filter(F.col("doc_id") % 17 != 3)
        .select(
            "doc_id",
            F.md5(
                F.when(F.col("doc_id") % 13 == 2, F.upper("text")).otherwise(
                    F.col("text")
                )
            ).alias("fp"),
            "n_chars",
        )
        .unionByName(
            docs_b.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.md5("text").alias("fp"),
                "n_chars",
            )
        )
    )
    j = a.alias("a").join(b.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full")
    status = (
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.fp") != F.col("b.fp"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(
            status.alias("status"),
            F.coalesce(F.col("a.n_chars"), F.lit(0)).alias("ca"),
            F.coalesce(F.col("b.n_chars"), F.lit(0)).alias("cb"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ca").cast("long").alias("sum_chars_a"),
            F.sum("cb").cast("long").alias("sum_chars_b"),
        )
    )


# ---------------------------------------------------------------------------
# exact two-sample KS drift test per stream (round 7)
# ---------------------------------------------------------------------------
_KS_SPLIT = "2024-01-15"

_KS_ORACLE = f"""
    WITH flagged AS (
        SELECT event_type, value AS v,
               CASE WHEN ts < TIMESTAMP '{_KS_SPLIT}' THEN 1 ELSE 0 END AS a
        FROM events WHERE value IS NOT NULL
    ),
    g AS (
        SELECT event_type, v,
               SUM(a)::BIGINT AS ca, SUM(1 - a)::BIGINT AS cb
        FROM flagged GROUP BY event_type, v
    ),
    c AS (
        SELECT event_type, v, ca, cb,
               SUM(ca) OVER (PARTITION BY event_type ORDER BY v)::BIGINT AS cuma,
               SUM(cb) OVER (PARTITION BY event_type ORDER BY v)::BIGINT AS cumb
        FROM g
    ),
    t AS (
        SELECT event_type, SUM(ca)::BIGINT AS n_a, SUM(cb)::BIGINT AS n_b
        FROM g GROUP BY event_type
    ),
    d AS (
        SELECT c.event_type, t.n_a, t.n_b,
               ABS(t.n_b * c.cuma - t.n_a * c.cumb)::BIGINT AS dd
        FROM c JOIN t USING (event_type)
    )
    SELECT event_type, n_a, n_b,
           MAX(dd)::BIGINT AS ks_num,
           (CASE WHEN n_a * n_b > 0
                 THEN MAX(dd) * 1000000 // (n_a * n_b) ELSE 0 END)::BIGINT
               AS ks_micros
    FROM d GROUP BY event_type, n_a, n_b
"""


@register("dq_ks_value_drift", oracle=_KS_ORACLE)
def dq_ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift test per event stream:
    for each event_type, compare the value distribution BEFORE vs AFTER
    a cutover date and report the exact KS statistic — the
    distributional drift monitor (dq_profile_drift catches mean/null
    shifts; KS catches shape changes those moments miss).

    Exactness: ks_num = max |n_b·cum_a − n_a·cum_b| over distinct values
    is all-BIGINT (cross-multiplied CDF difference, no division until
    the final integer micro-units) — value-hash identical cross-engine.

    Scale shape: one (type, value) hash aggregate, then the grouped
    two-phase prefix-sum pattern (operators/evaluation.py::
    ks_two_sample_by_group — range-partition, local inclusive sums,
    broadcast carry), a broadcast of per-group sizes, one final max agg.
    No raw-fact window, no single-task stage."""
    from lithops_dataframe_spark.operators.evaluation import ks_two_sample_by_group

    ev = load_table(spark, sf_dir, "events")
    flagged = ev.select(
        "event_type",
        F.col("value").alias("v"),
        # NULL ts must land in sample B on BOTH engines (ADVICE r7): the
        # oracle's CASE WHEN ... ELSE 0 maps NULL ts → 0, while a bare
        # (ts < split) cast would yield NULL and silently drop the row.
        F.coalesce(
            (F.col("ts") < F.lit(_KS_SPLIT).cast("timestamp")).cast("int"),
            F.lit(0),
        ).alias("a"),
    )
    return ks_two_sample_by_group(flagged, "event_type", "v", "a")


# ---------------------------------------------------------------------------
# STREAMING KS drift monitor (round 9 — streaming twin of dq_ks_value_drift)
# ---------------------------------------------------------------------------
_SKS_ORACLE = f"""
    WITH mx AS (SELECT MAX(event_id) + 1 AS m FROM events),
    ref AS (
        SELECT event_type, value AS v FROM events
        WHERE ts < TIMESTAMP '{_KS_SPLIT}' AND value IS NOT NULL
    ),
    strm AS (
        -- event_id >= 0 is an explicit contract (mirrored in the Spark
        -- staging): a negative synthetic id would floor-divide to
        -- batch -1 here but truncate to batch 0 in Spark's `div`, the
        -- documented truncate-vs-floor divergence class on negatives.
        SELECT event_type, value AS v, (event_id * 3 // mx.m)::BIGINT AS b
        FROM events, mx
        WHERE ts >= TIMESTAMP '{_KS_SPLIT}' AND value IS NOT NULL
          AND event_id >= 0
    ),
    batches AS (SELECT UNNEST([0, 1, 2])::BIGINT AS b),
    u AS (
        SELECT batches.b, r.event_type, r.v, 1 AS a
        FROM ref r CROSS JOIN batches
        UNION ALL
        SELECT b, event_type, v, 0 AS a FROM strm
    ),
    g AS (
        SELECT b, event_type, v,
               SUM(a)::BIGINT AS ca, SUM(1 - a)::BIGINT AS cb
        FROM u GROUP BY b, event_type, v
    ),
    c AS (
        SELECT b, event_type, v, ca, cb,
               SUM(ca) OVER w::BIGINT AS cuma,
               SUM(cb) OVER w::BIGINT AS cumb
        FROM g
        WINDOW w AS (PARTITION BY b, event_type ORDER BY v
                     ROWS UNBOUNDED PRECEDING)
    ),
    t AS (
        SELECT b, event_type, SUM(ca)::BIGINT AS n_a, SUM(cb)::BIGINT AS n_b
        FROM g GROUP BY b, event_type
    ),
    d AS (
        SELECT c.b, c.event_type, t.n_a, t.n_b,
               ABS(t.n_b * c.cuma - t.n_a * c.cumb)::BIGINT AS dd
        FROM c JOIN t ON t.b = c.b AND t.event_type = c.event_type
    )
    SELECT b AS batch_no, event_type, n_a, n_b,
           MAX(dd)::BIGINT AS ks_num,
           (CASE WHEN n_a * n_b > 0
                 THEN MAX(dd) * 1000000 // (n_a * n_b) ELSE 0 END)::BIGINT
               AS ks_micros
    FROM d GROUP BY b, event_type, n_a, n_b
"""


@register("stream_ks_drift", oracle=_SKS_ORACLE)
def stream_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING drift monitor (round 9) — the streaming twin of
    ``dq_ks_value_drift``: the pre-cutover events are written once as a
    FROZEN reference sample; the post-cutover events arrive as three
    ascending-event_id micro-batch files through ``foreachBatch``
    (streaming/drift.py), and every epoch computes the exact
    cross-multiplied-BIGINT two-sample KS of its batch against the
    reference, per event_type — one drift row per (epoch, series),
    epoch-keyed exactly-once. The read-back table must hash-match the
    batch SQL replay of per-batch-vs-reference KS; NULL-ts and
    NULL-value rows are excluded by explicit contract on both engines.
    At 100 TB the reference is a pinned sample table and the per-epoch
    cost is O(reference + batch) — the firehose is never re-scanned."""
    import os as _os

    from lithops_dataframe_spark.streaming.drift import foreach_batch_ks_drift
    from lithops_dataframe_spark.streaming.events import read_events_stream
    from lithops_dataframe_spark.streaming.staging import (
        await_or_raise,
        stage_microbatches,
    )

    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("event_id")).collect()[0][0]
    if mx is None:  # empty events: nothing to monitor
        return values_frame(
            spark,
            [],
            "batch_no long, event_type string, n_a long, n_b long,"
            " ks_num long, ks_micros long",
        )
    split = F.lit(_KS_SPLIT).cast("timestamp")
    ref = ev.filter((F.col("ts") < split) & F.col("value").isNotNull()).select(
        "event_type", F.col("value").alias("v")
    )
    # event_id >= 0: explicit contract (see oracle) — Spark `div`
    # truncates toward zero while DuckDB `//` floors, so a negative id
    # would land in different batches on the two engines AND fall
    # outside the three staged files here.
    strm_src = ev.filter(
        (F.col("ts") >= split)
        & F.col("value").isNotNull()
        & (F.col("event_id") >= 0)
    ).select(
        "event_type",
        F.col("value").alias("v"),
        F.expr(f"(event_id * 3) div {int(mx) + 1}").alias("b"),
    )

    work = cache.scratch("stream_ks")
    ref_path = _os.path.join(work, "ref")
    ref.write.mode("overwrite").parquet(ref_path)
    replay = _os.path.join(work, "replay")
    stage_microbatches(strm_src.select("event_type", "v", "b"), F.col("b"), 3, replay)
    stream = read_events_stream(spark, replay + "/*.parquet", "event_type string, v double")
    decisions = _os.path.join(work, "decisions")
    q = foreach_batch_ks_drift(
        stream,
        ref_path,
        decisions,
        _os.path.join(work, "_ckpt"),
        group_col="event_type",
        value_col="v",
    )
    await_or_raise(q, 300, "stream_ks_drift")
    # the lazy read-back, with the schema the step wrote: no inference job
    return (
        spark.read.schema(
            "event_type string, n_a long, n_b long, ks_num long, ks_micros long, epoch int"
        )
        .parquet(decisions)
        .select(
            F.col("epoch").cast("long").alias("batch_no"),
            "event_type",
            "n_a",
            "n_b",
            "ks_num",
            "ks_micros",
        )
    )


# --- inter-rater agreement: Cohen's kappa + Krippendorff's alpha (r10) ---
#
# Two deterministic binary "raters" over every document, so the gate is
# non-vacuous and replayable on both engines:
#   rater A (quality):    tokens >= 5 AND distinct-token permille >= 600
#                         (the pipeline_traindata_manifest gate)
#   rater B (repetition): no 2-grams at all, or duplicated-2-gram share
#                         <= 300 per-mille (1000*dup <= 300*total —
#                         integer cross-multiply, no division)
# Chance-corrected agreement from the per-source 2x2 confusion
# (a=both-pos, b=A-only, c=B-only, d=both-neg, n=a+b+c+d, m=b+c):
#   kappa = (n(a+d) - E) / (n^2 - E),  E = (a+b)(a+c) + (c+d)(b+d)
#   alpha = 1 - m(2n-1)/(n0*n1),       n1 = 2a+m, n0 = 2d+m
# (binary Krippendorff, two raters, no missing values — the coincidence
# matrix collapses to these integers). Emitted as round(1000*N/D):
# N, D are exact BIGINTs and 1000*N < 2^53 at gate SFs, so the single
# double divide + round is engine-identical; degenerate denominators
# (one label only) emit NULL on both engines.
_AGREE_TOKS = "string_split(text, ' ')"
_AGREE_ORACLE = f"""
    WITH r AS (
        SELECT source,
               (len({_AGREE_TOKS}) >= 5
                AND {TX.distinct_permille_sql('text')} >= 600) AS ra,
               (len({TX.ngrams_sql(_AGREE_TOKS, 2)}) = 0 OR
                1000 * (len({TX.ngrams_sql(_AGREE_TOKS, 2)})
                        - len(list_distinct({TX.ngrams_sql(_AGREE_TOKS, 2)})))
                <= 300 * len({TX.ngrams_sql(_AGREE_TOKS, 2)})) AS rb
        FROM documents
        WHERE text IS NOT NULL
    ),
    m AS (
        SELECT source,
               SUM((ra AND rb)::INT)::BIGINT AS a,
               SUM((ra AND NOT rb)::INT)::BIGINT AS b,
               SUM((NOT ra AND rb)::INT)::BIGINT AS c,
               SUM((NOT ra AND NOT rb)::INT)::BIGINT AS d
        FROM r GROUP BY source
    )
    SELECT source, a AS both_pos, b AS a_only, c AS b_only, d AS both_neg,
           CASE WHEN (a+b+c+d)*(a+b+c+d) - ((a+b)*(a+c) + (c+d)*(b+d)) > 0
                THEN CAST(ROUND(1000.0 * ((a+b+c+d)*(a+d) - ((a+b)*(a+c) + (c+d)*(b+d)))
                     / ((a+b+c+d)*(a+b+c+d) - ((a+b)*(a+c) + (c+d)*(b+d))), 0) AS BIGINT)
                ELSE NULL END AS kappa_permille,
           CASE WHEN (2*a + b + c) * (2*d + b + c) > 0
                THEN CAST(ROUND(1000.0 * ((2*a + b + c) * (2*d + b + c)
                     - (b + c) * (2*(a+b+c+d) - 1))
                     / ((2*a + b + c) * (2*d + b + c)), 0) AS BIGINT)
                ELSE NULL END AS alpha_permille
    FROM m
"""


@register("eval_rater_agreement", oracle=_AGREE_ORACLE)
def eval_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-rater agreement per source — Cohen's kappa and binary
    Krippendorff's alpha over two deterministic document "raters"
    (quality gate vs repetition gate). This is the annotation-QA metric
    an RLHF/preference-data pipeline computes between labelers or
    between an LLM judge and a heuristic — chance-corrected, so
    90 %-raw-agreement-on-a-95 %-positive corpus stops looking good.

    Scale shape: ONE narrow per-row map (token/2-gram arithmetic, no
    explode) into ONE hash aggregate keyed by source — map-side partial
    combine, a ~sources-sized result, no window, no join. The kappa /
    alpha arithmetic runs on the 2x2 counts (closed forms in the oracle
    comment); at 100 TB the only full-data cost is the scan. Counts are
    BIGINT-exact; 1000*numerator stays under 2^53 up to ~10^11 docs per
    source, far past any per-source corpus (document before DECIMAL)."""
    # A NULL-text doc has no rating from either rater — excluded on BOTH
    # engines (r11: without this, ngrams_sql's []::VARCHAR[] fallback made
    # the oracle's rb TRUE while Spark's rb stayed NULL; masked on mixed
    # sources, a hash divergence on an all-NULL source).
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = TX.ws_tokens(F.col("text"))
    g2 = TX.ngrams(toks, 2)
    tot2 = F.size(g2).cast("long")
    dup2 = (F.size(g2) - F.size(F.array_distinct(g2))).cast("long")
    ra = (F.size(toks) >= 5) & (TX.distinct_permille(F.col("text")) >= 600)
    rb = (tot2 == 0) | (1000 * dup2 <= 300 * tot2)
    m = (
        docs.select("source", ra.alias("ra"), rb.alias("rb"))
        .groupBy("source")
        .agg(
            F.sum((F.col("ra") & F.col("rb")).cast("long")).alias("a"),
            F.sum((F.col("ra") & ~F.col("rb")).cast("long")).alias("b"),
            F.sum((~F.col("ra") & F.col("rb")).cast("long")).alias("c"),
            F.sum((~F.col("ra") & ~F.col("rb")).cast("long")).alias("d"),
        )
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    e = (F.col("a") + F.col("b")) * (F.col("a") + F.col("c")) + (
        F.col("c") + F.col("d")
    ) * (F.col("b") + F.col("d"))
    k_num = n * (F.col("a") + F.col("d")) - e
    k_den = n * n - e
    mm = F.col("b") + F.col("c")
    n1 = 2 * F.col("a") + mm
    n0 = 2 * F.col("d") + mm
    a_num = n0 * n1 - mm * (2 * n - 1)
    a_den = n0 * n1
    return m.select(
        "source",
        F.col("a").cast("long").alias("both_pos"),
        F.col("b").cast("long").alias("a_only"),
        F.col("c").cast("long").alias("b_only"),
        F.col("d").cast("long").alias("both_neg"),
        F.when(k_den > 0, F.round(1000.0 * k_num / k_den, 0).cast("long"))
        .otherwise(F.lit(None).cast("long"))
        .alias("kappa_permille"),
        F.when(a_den > 0, F.round(1000.0 * a_num / a_den, 0).cast("long"))
        .otherwise(F.lit(None).cast("long"))
        .alias("alpha_permille"),
    )


# --- McNemar's test on the rater-disagreement cells (r11) ---
#
# Same two deterministic raters as eval_rater_agreement; the question
# McNemar answers is DIRECTIONAL: "is rater A systematically stricter
# than rater B?" — only the discordant cells b (A-only) and c (B-only)
# carry information, n = b + c.
#   chi2_cc = (max(|b-c|-1, 0))^2 / n      (Edwards continuity
#       correction, clamped at 0 so b == c scores 0, not 1/n)
#   exact two-sided p = min(1, 2 * P(X <= min(b,c))),  X ~ Binom(n, 1/2)
#       = min(2^n, 2 * sum_{k<=min(b,c)} C(n,k)) / 2^n
# The exact tail is emitted for n <= 50 ONLY: there every intermediate
# (C(50,25) ~ 1.26e14, times (n-k+1) <= 3.3e15, and 2^50 ~ 1.1e15) is an
# integer below 2^53, so the double-arithmetic fold is EXACT on both
# engines — engine-identical by exactness, not by matching rounding
# modes. For n > 50 the exact test is what no stats package would use
# anyway (the chi2 approximation's error is < 1e-6 there); emitting NULL
# keeps the contract honest instead of silently switching formulas.
# C(n,k) is built by the integer recurrence C(n,k+1) = C(n,k)*(n-k)/(k+1)
# (the division is always exact in that order).
_MCNEMAR_ORACLE = f"""
    WITH RECURSIVE r AS (
        SELECT source,
               (len({_AGREE_TOKS}) >= 5
                AND {TX.distinct_permille_sql('text')} >= 600) AS ra,
               (len({TX.ngrams_sql(_AGREE_TOKS, 2)}) = 0 OR
                1000 * (len({TX.ngrams_sql(_AGREE_TOKS, 2)})
                        - len(list_distinct({TX.ngrams_sql(_AGREE_TOKS, 2)})))
                <= 300 * len({TX.ngrams_sql(_AGREE_TOKS, 2)})) AS rb
        FROM documents
        WHERE text IS NOT NULL
    ),
    cells AS (
        SELECT source,
               SUM((ra AND NOT rb)::INT)::BIGINT AS b,
               SUM((NOT ra AND rb)::INT)::BIGINT AS c
        FROM r GROUP BY source
    ),
    base AS (
        SELECT source, b, c, b + c AS n, least(b, c) AS m FROM cells
    ),
    tail AS (
        SELECT source, n, m, 0::BIGINT AS k, 1.0::DOUBLE AS ck, 1.0::DOUBLE AS s
        FROM base WHERE n BETWEEN 1 AND 50
        UNION ALL
        SELECT source, n, m, k + 1,
               ck * (n - k) / (k + 1), s + ck * (n - k) / (k + 1)
        FROM tail WHERE k < m
    ),
    tfin AS (SELECT source, s FROM tail WHERE k = m)
    SELECT base.source,
           base.b AS a_only,
           base.c AS b_only,
           CASE WHEN base.n > 0
                THEN CAST(ROUND(1000.0 * greatest(abs(base.b - base.c) - 1, 0)
                                * greatest(abs(base.b - base.c) - 1, 0)
                                / base.n, 0) AS BIGINT)
                END AS chi2_cc_permille,
           CASE WHEN base.n BETWEEN 1 AND 50
                THEN CAST(ROUND(1000000.0
                                * least(2.0 * tfin.s, pow(2.0, base.n))
                                / pow(2.0, base.n), 0) AS BIGINT)
                END AS p_exact_micros
    FROM base LEFT JOIN tfin USING (source)
"""


@register("eval_mcnemar_exact", oracle=_MCNEMAR_ORACLE)
def eval_mcnemar_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test per source on the two raters' discordant cells —
    the annotation-QA decision metric downstream of eval_rater_agreement:
    kappa says HOW MUCH the labelers agree, McNemar says whether one is
    SYSTEMATICALLY stricter (paired binary outcomes, so the marginal
    test must condition on the discordant pairs only). Emits the
    continuity-corrected chi2 statistic (always) and the exact two-sided
    binomial p (for n = b + c <= 50, where the exact test is the right
    tool and every intermediate is integer-exact in doubles — see the
    oracle comment; larger n gets NULL, chi2 is the instrument there).

    Scale shape: identical to eval_rater_agreement — ONE narrow per-row
    map into ONE source-keyed hash aggregate (map-side partial combine,
    ~sources-sized result). The binomial fold is an O(min(b,c) <= 50)
    array fold applied to that sources-sized frame, not to data rows;
    at 100 TB the only full-data cost is the scan."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = TX.ws_tokens(F.col("text"))
    g2 = TX.ngrams(toks, 2)
    tot2 = F.size(g2).cast("long")
    dup2 = (F.size(g2) - F.size(F.array_distinct(g2))).cast("long")
    ra = (F.size(toks) >= 5) & (TX.distinct_permille(F.col("text")) >= 600)
    rb = (tot2 == 0) | (1000 * dup2 <= 300 * tot2)
    cells = (
        docs.select("source", ra.alias("ra"), rb.alias("rb"))
        .groupBy("source")
        .agg(
            F.sum((F.col("ra") & ~F.col("rb")).cast("long")).alias("b"),
            F.sum((~F.col("ra") & F.col("rb")).cast("long")).alias("c"),
        )
    )
    bb, cc = F.col("b"), F.col("c")
    nn = bb + cc
    mm = F.least(bb, cc)
    dd = F.greatest(F.abs(bb - cc) - 1, F.lit(0))
    # exact binomial tail S = sum_{k<=m} C(n,k), folded over k = 1..m
    # with the exact-in-doubles recurrence (guarded to n <= 50 above the
    # select, so the fold never sees a non-exact intermediate)
    # the (nn <= 50) guard on the SEQUENCE itself (ADVICE r11): the p
    # column's outer CaseWhen already NULLs out n > 50, but expression
    # evaluation must not be relied on to elide the fold input — a source
    # with millions of discordant pairs would otherwise materialize a
    # min(b,c)-element array per source row for work that is thrown away
    seq = F.when(
        (mm >= 1) & (nn <= 50), F.sequence(F.lit(1), mm.cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    tail = F.aggregate(
        seq,
        F.struct(
            F.lit(1.0).alias("ck"), F.lit(1.0).alias("s")
        ),
        lambda acc, k: F.struct(
            (acc["ck"] * (nn - k + 1) / k).alias("ck"),
            (acc["s"] + acc["ck"] * (nn - k + 1) / k).alias("s"),
        ),
    )
    pow2n = F.pow(F.lit(2.0), nn)
    return cells.select(
        "source",
        bb.cast("long").alias("a_only"),
        cc.cast("long").alias("b_only"),
        F.when(nn > 0, F.round(1000.0 * dd * dd / nn, 0).cast("long"))
        .otherwise(F.lit(None).cast("long"))
        .alias("chi2_cc_permille"),
        F.when(
            (nn >= 1) & (nn <= 50),
            F.round(
                1_000_000.0 * F.least(2.0 * tail["s"], pow2n) / pow2n, 0
            ).cast("long"),
        )
        .otherwise(F.lit(None).cast("long"))
        .alias("p_exact_micros"),
    )


# --- Cochran's Q across three deterministic raters (r11) ---
#
# The k-rater generalization of McNemar (k = 2 reduces to it): "do the k
# raters pass documents at the same rate?" over matched (same-document)
# binary ratings. Third rater C is a plain length gate so the trio spans
# independent criteria: quality (A), repetition (B), length (C).
#   L_i = row total (how many raters pass doc i), G_j = column total
#   (how many docs rater j passes), N = sum L_i:
#   Q = (k-1) * (k*sum G_j^2 - N^2) / (k*N - sum L_i^2)
# Every term is a BIGINT count; the denominator sum L_i(k - L_i) is 0
# iff the raters are unanimous on EVERY doc — NULL on both engines
# (no disagreement mass to test). Emitted as round(1000*num/den) with
# the cells alongside, same discipline as kappa/McNemar.
_COCHRAN_RC = "(n_chars IS NOT NULL AND n_chars >= 20)"
_COCHRAN_ORACLE = f"""
    WITH r AS (
        SELECT source,
               (len({_AGREE_TOKS}) >= 5
                AND {TX.distinct_permille_sql('text')} >= 600)::INT AS ra,
               (len({TX.ngrams_sql(_AGREE_TOKS, 2)}) = 0 OR
                1000 * (len({TX.ngrams_sql(_AGREE_TOKS, 2)})
                        - len(list_distinct({TX.ngrams_sql(_AGREE_TOKS, 2)})))
                <= 300 * len({TX.ngrams_sql(_AGREE_TOKS, 2)}))::INT AS rb,
               {_COCHRAN_RC}::INT AS rc
        FROM documents
        WHERE text IS NOT NULL
    ),
    m AS (
        SELECT source,
               COUNT(*)::BIGINT AS n_docs,
               SUM(ra)::BIGINT AS ga,
               SUM(rb)::BIGINT AS gb,
               SUM(rc)::BIGINT AS gc,
               SUM(ra + rb + rc)::BIGINT AS nn,
               SUM((ra + rb + rc) * (ra + rb + rc))::BIGINT AS l2
        FROM r GROUP BY source
    )
    SELECT source, n_docs, ga AS pass_a, gb AS pass_b, gc AS pass_c,
           CASE WHEN 3 * nn - l2 > 0
                THEN CAST(ROUND(1000.0 * 2 * (3 * (ga*ga + gb*gb + gc*gc) - nn*nn)
                                / (3 * nn - l2), 0) AS BIGINT)
                END AS q_permille
    FROM m
"""


@register("eval_cochran_q", oracle=_COCHRAN_ORACLE)
def eval_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q per source across THREE deterministic raters (quality /
    repetition / length gates) — the k-rater omnibus test an annotation
    pipeline runs before drilling into pairwise McNemar: one statistic
    answering "do these labelers pass documents at the same rate?", with
    Q ~ chi2(k-1) under the null. All terms are exact BIGINT counts
    (Q's numerator and denominator are integers; only the final permille
    quantization divides), and a source where the raters are unanimous
    on every document has no disagreement mass — NULL on both engines.

    Scale shape: the kappa/McNemar shape again — ONE narrow per-row map
    (the three gate predicates) into ONE source-keyed hash aggregate
    (map-side partial combine, ~sources-sized result). No window, no
    join; the 100 TB cost is the scan. Counts are BIGINT; 3*sumG^2 stays
    under 2^63 to ~10^9 docs per source (document before DECIMAL)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = TX.ws_tokens(F.col("text"))
    g2 = TX.ngrams(toks, 2)
    tot2 = F.size(g2).cast("long")
    dup2 = (F.size(g2) - F.size(F.array_distinct(g2))).cast("long")
    ra = ((F.size(toks) >= 5) & (TX.distinct_permille(F.col("text")) >= 600)).cast(
        "int"
    )
    rb = ((tot2 == 0) | (1000 * dup2 <= 300 * tot2)).cast("int")
    rc = (F.col("n_chars").isNotNull() & (F.col("n_chars") >= 20)).cast("int")
    li = ra + rb + rc
    m = (
        docs.select("source", ra.alias("ra"), rb.alias("rb"), rc.alias("rc"),
                    li.alias("li"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ra").cast("long").alias("ga"),
            F.sum("rb").cast("long").alias("gb"),
            F.sum("rc").cast("long").alias("gc"),
            F.sum("li").cast("long").alias("nn"),
            F.sum(F.col("li") * F.col("li")).cast("long").alias("l2"),
        )
    )
    ga, gb, gc = F.col("ga"), F.col("gb"), F.col("gc")
    nn, l2 = F.col("nn"), F.col("l2")
    num = 2 * (3 * (ga * ga + gb * gb + gc * gc) - nn * nn)
    den = 3 * nn - l2
    return m.select(
        "source",
        "n_docs",
        ga.alias("pass_a"),
        gb.alias("pass_b"),
        gc.alias("pass_c"),
        F.when(den > 0, F.round(1000.0 * num / den, 0).cast("long"))
        .otherwise(F.lit(None).cast("long"))
        .alias("q_permille"),
    )


# --- Fleiss' kappa per source across the same three raters (r12) ---
#
# Completes the annotation-QA trio (VERDICT r11 task 3): kappa (pairwise,
# r10) and Cochran's Q (omnibus TEST, r11) answer "do the raters differ?";
# Fleiss' kappa is the MAGNITUDE metric an RLHF labeling pipeline reports
# next to the omnibus p — chance-corrected agreement for k raters. For
# k = 3 raters over binary pass/fail categories, with per-doc pass count
# L_i, N = sum L_i, L2 = sum L_i^2, n docs:
#   P_bar  = sum_i [L_i(L_i-1) + (3-L_i)(2-L_i)] / (6n)
#          = (2*L2 - 6N + 6n) / (6n)
#   P_e    = (N/(3n))^2 + ((3n-N)/(3n))^2 = (N^2 + (3n-N)^2) / (9n^2)
#   kappa  = (P_bar - P_e) / (1 - P_e)
#          = [3n(2*L2 - 6N + 6n) - 2(N^2 + (3n-N)^2)]
#            / [18n^2 - 2(N^2 + (3n-N)^2)]     (common denominator 18n^2)
# Every term is a BIGINT product of counts; the denominator is 0 exactly
# when every single rating in the source is the same category (N = 0 or
# N = 3n — P_e = 1, chance correction undefined) → NULL on both engines.
# 54*n*L2-style terms stay under 2^63 to ~4*10^8 docs per source
# (document before DECIMAL). Only the final permille quantization
# divides, and it divides the SAME two BIGINTs on both engines, so IEEE
# double division gives bit-identical results.
_FLEISS_ORACLE = f"""
    WITH r AS (
        SELECT source,
               (len({_AGREE_TOKS}) >= 5
                AND {TX.distinct_permille_sql('text')} >= 600)::INT AS ra,
               (len({TX.ngrams_sql(_AGREE_TOKS, 2)}) = 0 OR
                1000 * (len({TX.ngrams_sql(_AGREE_TOKS, 2)})
                        - len(list_distinct({TX.ngrams_sql(_AGREE_TOKS, 2)})))
                <= 300 * len({TX.ngrams_sql(_AGREE_TOKS, 2)}))::INT AS rb,
               {_COCHRAN_RC}::INT AS rc
        FROM documents
        WHERE text IS NOT NULL
    ),
    m AS (
        SELECT source,
               COUNT(*)::BIGINT AS n_docs,
               SUM(ra)::BIGINT AS ga,
               SUM(rb)::BIGINT AS gb,
               SUM(rc)::BIGINT AS gc,
               SUM(ra + rb + rc)::BIGINT AS nn,
               SUM((ra + rb + rc) * (ra + rb + rc))::BIGINT AS l2
        FROM r GROUP BY source
    )
    SELECT source, n_docs, ga AS pass_a, gb AS pass_b, gc AS pass_c,
           CASE WHEN 18 * n_docs * n_docs
                     - 2 * (nn * nn + (3 * n_docs - nn) * (3 * n_docs - nn)) > 0
                THEN CAST(ROUND(
                    1000.0 * (3 * n_docs * (2 * l2 - 6 * nn + 6 * n_docs)
                              - 2 * (nn * nn + (3 * n_docs - nn) * (3 * n_docs - nn)))
                    / (18 * n_docs * n_docs
                       - 2 * (nn * nn + (3 * n_docs - nn) * (3 * n_docs - nn))),
                    0) AS BIGINT)
                END AS kappa_permille
    FROM m
"""


@register("eval_fleiss_kappa", oracle=_FLEISS_ORACLE)
def eval_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa per source over the quality/repetition/length rater
    trio — chance-corrected k-rater agreement magnitude, the number an
    annotation pipeline reports NEXT TO Cochran's Q (Q says whether the
    raters' pass rates differ; Fleiss says how much they agree beyond
    chance). Closed-form over the SAME per-doc L_i / per-rater G_j counts
    as eval_cochran_q — see _FLEISS_ORACLE for the exact-BIGINT algebra.
    A source where every rating is one category (P_e = 1) has no chance
    correction — NULL on both engines.

    Scale shape: identical to kappa/McNemar/Cochran — ONE narrow per-row
    map (three gate predicates) into ONE source-keyed hash aggregate with
    map-side partial combine; result is sources-sized, no window, no
    join. At 100 TB the only full-data cost is the scan (and the three
    predicates share one tokenization per row)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = TX.ws_tokens(F.col("text"))
    g2 = TX.ngrams(toks, 2)
    tot2 = F.size(g2).cast("long")
    dup2 = (F.size(g2) - F.size(F.array_distinct(g2))).cast("long")
    ra = ((F.size(toks) >= 5) & (TX.distinct_permille(F.col("text")) >= 600)).cast(
        "int"
    )
    rb = ((tot2 == 0) | (1000 * dup2 <= 300 * tot2)).cast("int")
    rc = (F.col("n_chars").isNotNull() & (F.col("n_chars") >= 20)).cast("int")
    li = ra + rb + rc
    m = (
        docs.select("source", ra.alias("ra"), rb.alias("rb"), rc.alias("rc"),
                    li.alias("li"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ra").cast("long").alias("ga"),
            F.sum("rb").cast("long").alias("gb"),
            F.sum("rc").cast("long").alias("gc"),
            F.sum("li").cast("long").alias("nn"),
            F.sum(F.col("li") * F.col("li")).cast("long").alias("l2"),
        )
    )
    n, nn, l2 = F.col("n_docs"), F.col("nn"), F.col("l2")
    pe2 = nn * nn + (3 * n - nn) * (3 * n - nn)  # P_e * (3n)^2, BIGINT
    num = 3 * n * (2 * l2 - 6 * nn + 6 * n) - 2 * pe2
    den = 18 * n * n - 2 * pe2
    return m.select(
        "source",
        "n_docs",
        F.col("ga").alias("pass_a"),
        F.col("gb").alias("pass_b"),
        F.col("gc").alias("pass_c"),
        F.when(den > 0, F.round(1000.0 * num / den, 0).cast("long"))
        .otherwise(F.lit(None).cast("long"))
        .alias("kappa_permille"),
    )
