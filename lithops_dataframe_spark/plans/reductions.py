"""Reduction queries — the reference's live operator surface as oracle-checked
queries over the ``lineitem`` fixture.

Reference: the ten whole-frame reductions at
``/root/reference/dataframe/core.py:264-404`` (sum/prod/max/min/count/mean/
std/all/any + axis=1 variants). Implemented via the LDFrame veneer
(:mod:`lithops_dataframe_spark.frame`), which compiles them to single-pass
native hash aggregations.

Doubles are rounded (builder + oracle identically) per registry discipline.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lithops_dataframe_spark.catalog import load_table
from lithops_dataframe_spark.frame import LDFrame
from lithops_dataframe_spark.plans.registry import register

# lineitem numeric columns, in schema order (FIXTURES.md).
LI_NUM = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
]
LI_DOUBLE = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _li(spark: SparkSession, sf_dir: str) -> LDFrame:
    return LDFrame(load_table(spark, sf_dir, "lineitem").select(*LI_NUM))


def _round_doubles(df: DataFrame, ndigits: int = 2) -> DataFrame:
    return df.select(
        *[
            F.round(F.col(f.name), ndigits).alias(f.name)
            if isinstance(f.dataType, (T.DoubleType, T.FloatType))
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )


def _oracle_reduce(fn_sql: str, ndigits: int = 2, int_result: bool = False, cast_int: bool = False) -> str:
    """Oracle output types MUST match Spark exactly (the driver's value hash
    distinguishes 3 from 3.0). DuckDB quirks handled here:
    - SUM(BIGINT) → HUGEINT (rendered as float by the fetch path) →
      ``cast_int=True`` wraps integer-column aggregates in CAST(.. AS BIGINT).
    - COUNT is BIGINT on both sides → NEVER wrap it in ROUND (that makes it
      a DOUBLE while Spark returns LONG); ``int_result=True`` marks such
      always-integer aggregates.
    - double-column aggregates are rounded identically on both sides."""
    cols = ", ".join(
        f"{fn_sql.format(c=c)} AS {c}" if int_result
        else f"ROUND({fn_sql.format(c=c)}, {ndigits}) AS {c}" if c in LI_DOUBLE
        else f"CAST({fn_sql.format(c=c)} AS BIGINT) AS {c}" if cast_int
        else f"{fn_sql.format(c=c)} AS {c}"
        for c in LI_NUM
    )
    return f"SELECT {cols} FROM lineitem"


@register("red_sum_axis0", oracle=_oracle_reduce("SUM({c})", cast_int=True))
def red_sum_axis0(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _round_doubles(_li(spark, sf_dir).sum())


@register("red_min_axis0", oracle=_oracle_reduce("MIN({c})"))
def red_min_axis0(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _round_doubles(_li(spark, sf_dir).min())


@register("red_max_axis0", oracle=_oracle_reduce("MAX({c})"))
def red_max_axis0(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _round_doubles(_li(spark, sf_dir).max())


@register("red_count_axis0", oracle=_oracle_reduce("COUNT({c})", int_result=True))
def red_count_axis0(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _li(spark, sf_dir).count()


@register(
    "red_mean_axis0",
    oracle="SELECT " + ", ".join(f"ROUND(AVG({c}), 4) AS {c}" for c in LI_NUM) + " FROM lineitem",
)
def red_mean_axis0(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _round_doubles(_li(spark, sf_dir).mean(), 4)


@register(
    "red_std_axis0",
    oracle="SELECT " + ", ".join(f"ROUND(STDDEV_SAMP({c}), 4) AS {c}" for c in LI_NUM) + " FROM lineitem",
)
def red_std_axis0(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _round_doubles(_li(spark, sf_dir).std(ddof=1), 4)


@register(
    "red_all_any",
    oracle="""
    SELECT BOOL_AND(l_quantity != 0)  AS all_qty,
           BOOL_AND(l_discount != 0)  AS all_disc,
           BOOL_OR(l_discount != 0)   AS any_disc,
           BOOL_OR(l_tax != 0)        AS any_tax
    FROM lineitem
    """,
)
def red_all_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _li(spark, sf_dir)
    alls = LDFrame(li.spark.select("l_quantity", "l_discount")).all()
    anys = LDFrame(li.spark.select("l_discount", "l_tax")).any()
    return (
        alls.select(F.col("l_quantity").alias("all_qty"), F.col("l_discount").alias("all_disc"))
        .crossJoin(anys.select(F.col("l_discount").alias("any_disc"), F.col("l_tax").alias("any_tax")))
    )


@register(
    "red_prod",
    oracle="""
    SELECT ROUND(PRODUCT(1 + l_tax), 6) AS prod_tax_factor, COUNT(*) AS n_rows
    FROM lineitem WHERE l_orderkey <= 8
    """,
)
def red_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 8)
    frame = LDFrame(li.select((1 + F.col("l_tax")).alias("prod_tax_factor")))
    prod = frame.prod().select(F.round(F.col("prod_tax_factor"), 6).alias("prod_tax_factor"))
    return prod.crossJoin(li.agg(F.count(F.lit(1)).alias("n_rows")))


@register(
    "red_stats_combined",
    oracle="""
    SELECT ROUND(MIN(l_quantity), 2)       AS min_qty,
           ROUND(MAX(l_extendedprice), 2)  AS max_price,
           ROUND(AVG(l_discount), 4)       AS mean_disc,
           ROUND(STDDEV_SAMP(l_tax), 4)    AS std_tax,
           BOOL_AND(l_quantity != 0)       AS all_qty_nonzero,
           BOOL_OR(l_tax != 0)             AS any_tax_nonzero,
           (SELECT ROUND(PRODUCT(1 + l_tax), 6) FROM lineitem WHERE l_orderkey <= 8)
                                           AS prod_tax_factor
    FROM lineitem
    """,
)
def red_stats_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One driver-checkable row proving the whole reference reduction
    surface (min/max/mean/std/all/any/prod — reference core.py:264-404)
    through the LDFrame veneer; one-row crossJoins are literal-sized.

    The min, max, mean, std and all/any columns ARE the standalone twins
    (red_min_axis0, red_max_axis0, red_mean_axis0, red_std_axis0,
    red_all_any), each projected to one column. The prod leg stays inline:
    red_prod cross-joins an ``n_rows`` count that column pruning does not
    remove, which would add two exchanges, a broadcast and a lineitem
    scan."""
    legs = [
        red_min_axis0(spark, sf_dir).select(F.col("l_quantity").alias("min_qty")),
        red_max_axis0(spark, sf_dir).select(F.col("l_extendedprice").alias("max_price")),
        red_mean_axis0(spark, sf_dir).select(F.col("l_discount").alias("mean_disc")),
        red_std_axis0(spark, sf_dir).select(F.col("l_tax").alias("std_tax")),
        red_all_any(spark, sf_dir).select(
            F.col("all_qty").alias("all_qty_nonzero"), F.col("any_tax").alias("any_tax_nonzero")
        ),
        LDFrame(
            load_table(spark, sf_dir, "lineitem")
            .filter(F.col("l_orderkey") <= 8)
            .select((1 + F.col("l_tax")).alias("p"))
        )
        .prod()
        .select(F.round(F.col("p"), 6).alias("prod_tax_factor")),
    ]
    return reduce(DataFrame.crossJoin, legs)


@register(
    "red_sum_axis1",
    oracle="""
    SELECT ROUND(l_quantity + l_extendedprice + l_discount + l_tax, 2) AS sum
    FROM lineitem
    """,
)
def red_sum_axis1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = LDFrame(load_table(spark, sf_dir, "lineitem").select(*LI_DOUBLE))
    return li.sum(axis=1).select(F.round(F.col("sum"), 2).alias("sum"))


@register(
    "red_max_axis1",
    oracle="""
    SELECT GREATEST(l_quantity, l_extendedprice, l_discount, l_tax) AS max
    FROM lineitem
    """,
)
def red_max_axis1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = LDFrame(load_table(spark, sf_dir, "lineitem").select(*LI_DOUBLE))
    return li.max(axis=1)


@register(
    "red_mean_axis1",
    oracle="""
    SELECT ROUND((l_quantity + l_extendedprice + l_discount + l_tax) / 4.0, 4) AS mean
    FROM lineitem
    """,
)
def red_mean_axis1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = LDFrame(load_table(spark, sf_dir, "lineitem").select(*LI_DOUBLE))
    return li.mean(axis=1).select(F.round(F.col("mean"), 4).alias("mean"))


@register(
    "red_stats_moments",
    oracle="""
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 6)       AS corr_qty_price,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS covar_samp_qty_price,
           ROUND(covar_pop(l_quantity, l_extendedprice), 4)  AS covar_pop_qty_price,
           ROUND(var_samp(l_tax), 6)                         AS var_samp_tax,
           ROUND(var_pop(l_tax), 6)                          AS var_pop_tax,
           -- DuckDB skewness/kurtosis are the BIAS-CORRECTED sample
           -- statistics (G1/G2); Spark's are the population moments
           -- (g1/g2). Convert with the exact factor so both sides round
           -- to the same 6 decimals: g1 = G1*(n-2)/sqrt(n(n-1)),
           -- g2 = (G2*(n-2)*(n-3)/(n-1) - 6)/(n+1). The correction
           -- factors need n>=3 (skew) / n>=4 (kurt) — DuckDB returns
           -- NULL below that, but Spark's POPULATION moments are still
           -- defined whenever the variance is nonzero (r9 edge-fixture
           -- catch: a 3-row group diverged NULL vs -1.5). Small-n
           -- branches compute g1/g2 directly from power sums; Spark's
           -- zero-variance NaN normalizes to NULL on both sides.
           CASE
             WHEN COUNT(*) >= 3 THEN
               ROUND(skewness(l_discount) * (COUNT(*) - 2.0)
                     / SQRT(COUNT(*) * (COUNT(*) - 1.0)), 6)
             WHEN COUNT(*) = 2 AND var_pop(l_discount) > 0 THEN 0.0
             ELSE NULL
           END                                               AS skew_discount,
           CASE
             WHEN COUNT(*) >= 4 THEN
               ROUND((kurtosis(l_discount) * (COUNT(*) - 2.0) * (COUNT(*) - 3.0)
                      / (COUNT(*) - 1.0) - 6.0) / (COUNT(*) + 1.0), 6)
             WHEN COUNT(*) >= 2 AND var_pop(l_discount) > 0 THEN
               ROUND((AVG(POWER(l_discount, 4))
                      - 4 * AVG(l_discount) * AVG(POWER(l_discount, 3))
                      + 6 * POWER(AVG(l_discount), 2) * AVG(POWER(l_discount, 2))
                      - 3 * POWER(AVG(l_discount), 4))
                     / POWER(AVG(POWER(l_discount, 2))
                             - POWER(AVG(l_discount), 2), 2) - 3.0, 6)
             ELSE NULL
           END                                               AS kurt_discount,
           median(l_quantity)                                AS median_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def red_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second/third/fourth-moment statistics per group — corr, covariance,
    variance, skewness, kurtosis, median.

    All are single-pass mergeable moment aggregates (Catalyst computes
    partial (n, Σx, Σx², Σx³, Σx⁴, Σxy) per partition and merges), so the
    plan is partial→exchange-on-l_returnflag→final: the right shape at
    100 TB. ``median`` is the exact interpolated percentile — fine on
    grouped data where each group fits an aggregation buffer; the
    documented whole-column scale path is ``approx_percentile``
    (see ``agg_percentiles_approx``).

    Reference parity: extends the reference's declared reduction surface
    (``/root/reference/dataframe/core.py:264-404``, mean/std) to the full
    moment family a stats-profiling pipeline needs.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # corr recomposed from guarded moment pieces instead of F.corr: the
    # builtin's final division throws ANSI DIVIDE_BY_ZERO inside the
    # aggregate when either side has zero variance (constant column /
    # n=1 group), where DuckDB's corr yields NULL — and a select-level
    # guard around F.corr would come too late (edge-fixture r8).
    corr_guarded = F.when(
        F.col("__vq") * F.col("__vp") > 0,
        F.col("__cv") / (F.sqrt(F.col("__vq")) * F.sqrt(F.col("__vp"))),
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.var_pop("l_quantity").alias("__vq"),
            F.var_pop("l_extendedprice").alias("__vp"),
            F.covar_pop("l_quantity", "l_extendedprice").alias("__cv"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_samp_qty_price"),
            F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("covar_pop_qty_price"),
            F.round(F.var_samp("l_tax"), 6).alias("var_samp_tax"),
            F.round(F.var_pop("l_tax"), 6).alias("var_pop_tax"),
            F.round(F.skewness("l_discount"), 6).alias("skew_discount"),
            F.round(F.kurtosis("l_discount"), 6).alias("kurt_discount"),
            F.median("l_quantity").alias("median_qty"),
        )
        .withColumn("corr_qty_price", F.round(corr_guarded, 6))
        .drop("__vq", "__vp", "__cv")
        .select(
            "l_returnflag",
            "corr_qty_price",
            "covar_samp_qty_price",
            "covar_pop_qty_price",
            "var_samp_tax",
            "var_pop_tax",
            "skew_discount",
            "kurt_discount",
            "median_qty",
        )
        # at most 3 return flags: one task sorts them, no range-partition sampling job
        .coalesce(1)
        .sortWithinPartitions("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation — exact-integer formulation
# ---------------------------------------------------------------------------
_SPEARMAN_ORACLE = """
    WITH e AS (
        SELECT event_type, event_id, ts,
               (FLOOR(value * 100 + 0.5))::BIGINT AS cents
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    rk AS (
        SELECT event_type,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cents, event_id) AS rv,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS rt
        FROM e
    )
    SELECT event_type,
           COUNT(*)::BIGINT AS n,
           SUM((rv - rt) * (rv - rt))::BIGINT AS sum_d2,
           (CASE WHEN COUNT(*) > 1 THEN
               (2 * COUNT(*) * (COUNT(*) * COUNT(*) - 1)
                - 6 * SUM((rv - rt) * (rv - rt))) * 1000
               // (2 * COUNT(*) * (COUNT(*) * COUNT(*) - 1))
            END)::BIGINT AS rho_shifted_permille
    FROM rk GROUP BY event_type
"""


@register("stat_spearman_trend", oracle=_SPEARMAN_ORACLE)
def stat_spearman_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between each series' value and time —
    the robust (outlier-immune) monotone-trend test, computed EXACTLY:
    rho = 1 - 6·Σd²/(n(n²-1)) over integer ranks, reported as the
    [-1,1]→[0,1000] shifted permille so every output stays a
    non-negative BIGINT (no float tolerance, no negative intdiv edge).

    Scale shape: one Exchange on event_type, then two in-partition sorts
    for the two row_number passes (same partitioning — Catalyst reuses
    the shuffle), then a hash aggregate; nothing leaves the cluster.
    Rank ties cannot occur: both orderings tie-break on the unique
    event_id, so the oracle replay is bit-identical. Bound:
    2n³·1000 must fit BIGINT — holds to n ≈ 1.6M rows per group; at
    100 TB partition the test per (series, day) before correlating.
    Single-row series (n=1): rho is undefined — n(n²−1)=0 — so both
    engines emit NULL via an explicit CASE guard (ANSI div-by-zero
    class, found by the r9 edge sweep). A point with NULL time or NULL
    value has no rank in either ordering (and NULLS FIRST/LAST differs
    between engines — the r8 class-2 divergence), so both sides filter
    to fully-observed points before ranking."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    e = ev.filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    ).select("event_type", "event_id", "ts", cents.alias("cents"))
    wv = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wt = Window.partitionBy("event_type").orderBy("ts", "event_id")
    rk = e.select(
        "event_type",
        F.row_number().over(wv).cast("long").alias("rv"),
        F.row_number().over(wt).cast("long").alias("rt"),
    )
    d2 = (F.col("rv") - F.col("rt")) * (F.col("rv") - F.col("rt"))
    agg = rk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d2).cast("long").alias("sum_d2"),
    )
    return agg.select(
        "event_type",
        "n",
        "sum_d2",
        F.expr(
            "CASE WHEN n > 1 THEN "
            "(2 * n * (n * n - 1) - 6 * sum_d2) * 1000 div (2 * n * (n * n - 1)) "
            "END"
        )
        .cast("long")
        .alias("rho_shifted_permille"),
    )


# ---------------------------------------------------------------------------
# chi-square independence cells (contingency-table association test)
# ---------------------------------------------------------------------------
_CHI2_ORACLE = """
    WITH o AS (
        SELECT lang, source, COUNT(*)::BIGINT AS o
        FROM documents GROUP BY 1, 2
    ),
    r AS (SELECT lang, SUM(o)::BIGINT AS r FROM o GROUP BY lang),
    c AS (SELECT source, SUM(o)::BIGINT AS c FROM o GROUP BY source),
    n AS (SELECT SUM(o)::BIGINT AS n FROM o)
    SELECT o.lang, o.source, o.o, r.r, c.c,
           (r.r * c.c)::DOUBLE / n.n AS expected,
           (o.o - (r.r * c.c)::DOUBLE / n.n)
             * (o.o - (r.r * c.c)::DOUBLE / n.n)
             / ((r.r * c.c)::DOUBLE / n.n) AS chi2_contrib
    FROM o JOIN r USING (lang) JOIN c USING (source) CROSS JOIN n
"""


@register("stat_chi2_independence", oracle=_CHI2_ORACLE)
def stat_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence cells for the lang × source contingency
    table: observed count, marginals, expected count, and the cell's χ²
    contribution — the association test a corpus review runs to see
    whether language mix differs by source (summing chi2_contrib gives
    the statistic; per-cell rows keep every number hash-checkable).

    Scale shape: one hash aggregate builds the O table (domain-bounded);
    marginals and the total are aggregates OF the cell table, broadcast
    back — the fact is scanned once. Exactness: counts/marginals are
    BIGINTs; expected and the contribution are the SAME IEEE expression
    over those exact integers in both engines (single multiply-divide
    chains, no re-summation, no rounding step needed — identical doubles
    hash identically)."""
    docs = load_table(spark, sf_dir, "documents")
    o = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).cast("long").alias("o"))
    r = o.groupBy("lang").agg(F.sum("o").cast("long").alias("r"))
    c = o.groupBy("source").agg(F.sum("o").cast("long").alias("c"))
    n = o.agg(F.sum("o").cast("long").alias("n"))
    j = (
        o.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .crossJoin(F.broadcast(n))
    )
    expected = (F.col("r") * F.col("c")).cast("double") / F.col("n")
    dev = F.col("o") - expected
    return j.select(
        "lang",
        "source",
        "o",
        "r",
        "c",
        expected.alias("expected"),
        (dev * dev / expected).alias("chi2_contrib"),
    )


# ---------------------------------------------------------------------------
# quantile normalization across groups (batch-effect correction)
# ---------------------------------------------------------------------------
_QNORM_ORACLE = """
    WITH c AS (
        SELECT event_type, event_id,
               (FLOOR(value * 100 + 0.5))::BIGINT AS cents
        FROM events WHERE value IS NOT NULL
    ),
    gstats AS (
        SELECT cents AS gcents,
               row_number() OVER (ORDER BY cents, event_id) AS g
        FROM c
    ),
    nn AS (SELECT COUNT(*)::BIGINT AS n_total FROM c),
    loc AS (
        SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cents, event_id) AS r,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM c
    ),
    tgt AS (
        SELECT l.event_type, l.cents,
               ((l.r * nn.n_total + l.n - 1) // l.n) AS g
        FROM loc l CROSS JOIN nn
    )
    SELECT t.event_type,
           COUNT(*)::BIGINT AS n,
           SUM(t.cents)::BIGINT AS raw_cents,
           SUM(gl.gcents)::BIGINT AS normalized_cents,
           SUM(ABS(gl.gcents - t.cents))::BIGINT AS total_shift_cents,
           MIN(gl.gcents)::BIGINT AS norm_min,
           MAX(gl.gcents)::BIGINT AS norm_max
    FROM tgt t JOIN gstats gl ON gl.g = t.g
    GROUP BY t.event_type
"""


@register("feat_quantile_normalize", oracle=_QNORM_ORACLE)
def feat_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across groups (the batch-effect correction
    from bioinformatics, equally used to align feature distributions
    across data sources): each value is replaced by the GLOBAL value at
    its within-group quantile — after normalization every group shares
    the global distribution exactly. Reported per group with the total
    correction magnitude (Σ|shift|), the number that says how far the
    group's distribution sat from the pooled one.

    Scale shape: the global order statistics come from the two-phase
    exact rank (range partition + local row_number + broadcast carry —
    no one-task window); the within-group ranks use a per-group window
    (group count is the fixture's 5 — at real scale lift to the grouped
    two-phase form, as pack_length_buckets does); the quantile lookup is
    ONE equi-join on the computed global rank. All-BIGINT half-up cents;
    ranks tie-break on the unique event_id, so the mapping replays
    bit-identically."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    # present values only — NULL cents must not reach the rank windows:
    # Spark sorts NULLS FIRST ascending, DuckDB NULLS LAST, so a NULL row
    # silently shifts every rank and the quantile lookup (edge r8; same
    # class as events_winsorize_stats)
    c = ev.where(F.col("value").isNotNull()).select(
        "event_type", "event_id", cents.alias("cents")
    )

    # global exact ranks, two-phase
    part = c.repartitionByRange(F.col("cents").asc(), F.col("event_id").asc()).withColumn(
        "__pid", F.spark_partition_id()
    )
    wloc = Window.partitionBy("__pid").orderBy("cents", "event_id")
    local = part.withColumn("__r_loc", F.row_number().over(wloc).cast("long"))
    totals = part.groupBy("__pid").agg(F.count(F.lit(1)).alias("__pt"))
    wcum = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "__pid",
        F.coalesce(F.sum("__pt").over(wcum), F.lit(0).cast("long")).alias("__off"),
    )
    glob = (
        local.join(F.broadcast(offs), "__pid")
        .select((F.col("__r_loc") + F.col("__off")).alias("g"), F.col("cents").alias("gcents"))
    )
    n_total = c.count()

    wl = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wn = Window.partitionBy("event_type")
    loc = c.select(
        "event_type",
        "cents",
        F.row_number().over(wl).cast("long").alias("r"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
    )
    tgt = loc.withColumn("g", F.expr(f"(r * {n_total} + n - 1) div n").cast("long"))
    j = tgt.join(glob, "g")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("raw_cents"),
        F.sum("gcents").cast("long").alias("normalized_cents"),
        F.sum(F.abs(F.col("gcents") - F.col("cents"))).cast("long").alias("total_shift_cents"),
        F.min("gcents").cast("long").alias("norm_min"),
        F.max("gcents").cast("long").alias("norm_max"),
    )
