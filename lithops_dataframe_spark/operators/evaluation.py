"""Model-evaluation operators: exact distributed ROC-AUC (SURVEY §2.11).

Reference context: the reference (cloudbutton/lithops-dataframe) has no
model-evaluation surface — this supplies the metric a training-data
pipeline computes after fitting its quality/language filter
(operators/classifier.py): the exact area under the ROC curve of the
scores against the labels, at corpus scale.

AUC is the Mann–Whitney U statistic: the probability a random positive
outscores a random negative, ties counting half. Computed WITHOUT pairs:

1. aggregate to one row per DISTINCT score — (n_pos, n_neg) counts; one
   hash shuffle with map-side combine;
2. an EXCLUSIVE prefix sum of n_neg in score order gives, for each
   score, the negatives strictly below it — the inclusive running sum
   of :func:`operators.util.prefix_sums` minus the score's own n_neg (a
   global ``Window.orderBy`` would be one task);
3. the tie-aware numerator doubled to stay integral:
   ``auc_num2 = Σ_s n_pos(s) · (2·cum_neg_below(s) + n_neg(s))`` and
   ``AUC = auc_num2 / (2·P·N)`` — every term an exact BIGINT, so the
   statistic replays bit-identically in any engine; only the final
   ratio is a (rounded) double.

Grouping by a double score column is sound here because scores come from
a FIXED-order IEEE expression over per-epoch-rounded weights (see
operators/classifier.py's determinism note): equal inputs produce
bit-equal doubles in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lithops_dataframe_spark.operators.util import prefix_sums


def roc_auc(scored: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Exact tie-aware ROC-AUC of binary ``label_col`` (0/1) under
    ``score_col``. Returns ONE row:
    (n_pos, n_neg, auc_num2) as exact BIGINTs plus ``auc`` rounded to 6.
    """
    y = F.col(label_col).cast("long")
    g = scored.groupBy(score_col).agg(
        F.sum(y).alias("np"),
        F.sum(F.lit(1) - y).alias("nn"),
    )
    c = prefix_sums(g, [score_col], {"cn": F.col("nn")}).withColumn(
        "cnb", F.col("cn") - F.col("nn")
    )
    agg = c.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.sum(F.col("np") * (F.lit(2) * F.col("cnb") + F.col("nn")))
        .cast("long")
        .alias("auc_num2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "auc_num2",
        # single-class input (no positives or no negatives) has no AUC:
        # NULL on both engines, not an ANSI DIVIDE_BY_ZERO crash (Spark
        # errors on double/0 under ANSI where DuckDB yields NULL — edge r8)
        F.when(
            F.col("n_pos") * F.col("n_neg") > 0,
            F.round(
                F.col("auc_num2") / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg")), 6
            ),
        ).alias("auc"),
    )


def rank_calibration_bins(
    scored: DataFrame,
    score_col: str,
    id_col: str,
    label_col: str,
    *,
    bins: int = 10,
) -> DataFrame:
    """Reliability-diagram binning: split the corpus into ``bins``
    equal-frequency score bins (by exact global rank of (score, id)) and
    report each bin's size, positive count, and observed positive rate —
    the monotonicity check behind every calibration plot.

    The bin index is computed from the exact global row number as
    ``(rank-1)·B div n`` (a deterministic closed form both engines can
    replay — no engine-specific NTILE remainder rules); the row number
    is :func:`operators.util.prefix_sums` over (score, id), never a
    one-task global Window.

    Outputs are BIGINTs plus the bin's 6dp-rounded score bounds (min/max
    pick existing doubles, no re-summation) — hash-exact cross-engine.
    """
    base = scored.select(
        F.col(score_col).alias("z"),
        F.col(id_col).alias("id"),
        F.col(label_col).cast("long").alias("y"),
    )
    n_total = base.count()
    ranked = prefix_sums(base, ["z", "id"], {"rk": F.lit(1)}).withColumn(
        "bin", F.expr(f"(rk - 1) * {bins} div {n_total}").cast("long") + 1
    )
    return ranked.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.expr("sum(y) * 1000 div count(1)").cast("long").alias("pos_rate_permille"),
        F.round(F.min("z"), 6).alias("z_min"),
        F.round(F.max("z"), 6).alias("z_max"),
    )


def roc_auc_by_group(
    scored: DataFrame, group_col: str, score_col: str, label_col: str
) -> DataFrame:
    """Exact tie-aware ROC-AUC per group — the sliced-evaluation form
    (per-source / per-language / per-segment model quality, the table a
    fairness or data-mix review reads). One row per group:
    (group, n_pos, n_neg, auc_num2) as exact BIGINTs + ``auc`` rounded 6.

    Same pair-free Mann–Whitney construction as :func:`roc_auc`, with the
    running sum grouped: :func:`operators.util.prefix_sums` with
    ``group_cols`` — groups never serialize into one task, and a group
    spanning many partitions still gets an exact prefix."""
    y = F.col(label_col).cast("long")
    g = scored.groupBy(group_col, score_col).agg(
        F.sum(y).alias("np"),
        F.sum(F.lit(1) - y).alias("nn"),
    )
    c = prefix_sums(
        g, [score_col], {"cn": F.col("nn")}, group_cols=[group_col]
    ).withColumn("cnb", F.col("cn") - F.col("nn"))
    agg = c.groupBy(group_col).agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.sum(F.col("np") * (F.lit(2) * F.col("cnb") + F.col("nn")))
        .cast("long")
        .alias("auc_num2"),
    )
    return agg.select(
        group_col,
        "n_pos",
        "n_neg",
        "auc_num2",
        # single-class GROUP (e.g. a source slice with no positives) has
        # no AUC: NULL on both engines, not an ANSI crash (edge r8)
        F.when(
            F.col("n_pos") * F.col("n_neg") > 0,
            F.round(
                F.col("auc_num2") / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg")), 6
            ),
        ).alias("auc"),
    )


#: Input size from which :func:`ks_two_sample_by_group` persists its
#: distinct aggregate before the range shuffle (see the note there).
_KS_PERSIST_MIN_BYTES = 256 * 1024 * 1024


def ks_two_sample_by_group(
    df: DataFrame, group_col: str, value_col: str, flag_col: str
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic per group — the
    distribution-drift test a data-quality monitor runs per stream
    (``flag_col`` 1/0 splits each group's rows into the two samples,
    e.g. before/after a cutover date).

    KS = max_x |F_A(x) − F_B(x)| is computed WITHOUT floats by
    cross-multiplying through the sample sizes:
    ``ks_num = max over distinct values of |n_b·cum_a − n_a·cum_b|``
    and ``KS = ks_num / (n_a·n_b)`` — every term an exact BIGINT, so the
    statistic replays bit-identically in any engine. Reported as integer
    micro-units ``ks_micros = ks_num·1e6 div (n_a·n_b)`` (sound while
    ``ks_num ≤ ~9.2e12``, i.e. per-group sample products to ~3e6 rows
    per side at full precision — beyond that drop to permille, same
    class of documented BIGINT bound as stat_spearman_trend).

    Scale shape: one hash aggregate to distinct (group, value) rows with
    per-sample counts, then both samples' running sums per group from
    :func:`operators.util.prefix_sums`, a broadcast of the per-group
    sample sizes (summed over that output, never re-reading ``df``), and
    a final per-group max. No window over a raw fact table, no
    single-task stage."""
    from lithops_dataframe_spark import cache

    # NULL values carry no CDF position — and the engines would ORDER
    # them differently (Spark windows sort NULLS FIRST ascending, DuckDB
    # NULLS LAST), silently shifting every cumulative count. Drop them
    # upfront in BOTH engine and oracle (latent-divergence class: the
    # fixtures happen to contain no NULL values).
    df = df.filter(F.col(value_col).isNotNull())
    a = F.col(flag_col).cast("long")
    # SIZE-GATED persist of g BEFORE the range shuffle (r13, guide §5 /
    # VERDICT r12 item 6): repartitionByRange SAMPLES its input to pick
    # the range bounds, so without a persist the distinct-(group, value)
    # aggregate — the only full pass over the fact table — executes twice
    # (once for the sampling job, once for the shuffle map). Persisting
    # saves that second full scan, but the materialization costs MORE
    # than the repeated aggregate on small inputs: interleaved A/B at
    # sf0.1 measured persist median 1.17 s vs 0.89 s without
    # (plans/r13/ab_records.jsonl). Engage the 100 TB shape only when the
    # scan it saves is big enough to dominate; unknown input size (non-
    # file lineage) → persist, since such lineages are derived frames
    # whose recompute is the expensive case.
    from lithops_dataframe_spark.operators.util import estimated_input_bytes

    g = df.groupBy(group_col, value_col).agg(
        F.sum(a).alias("ca"),
        F.sum(F.lit(1) - a).alias("cb"),
    )
    in_bytes = estimated_input_bytes(df)
    if in_bytes is None or in_bytes >= _KS_PERSIST_MIN_BYTES:
        g = cache.persist_tracked(g)
    cums = {"cuma": F.col("ca"), "cumb": F.col("cb")}
    c = prefix_sums(g, [value_col], cums, group_cols=[group_col])
    sizes = c.groupBy(group_col).agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    d = c.join(F.broadcast(sizes), group_col).withColumn(
        "__d",
        F.abs(F.col("n_b") * F.col("cuma") - F.col("n_a") * F.col("cumb")).cast(
            "long"
        ),
    )
    agg = d.groupBy(group_col).agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.max("__d").cast("long").alias("ks_num"),
    )
    return agg.select(
        group_col,
        "n_a",
        "n_b",
        "ks_num",
        F.when(
            F.col("n_a") * F.col("n_b") > 0,
            F.expr("ks_num * 1000000 div (n_a * n_b)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("ks_micros"),
    )
