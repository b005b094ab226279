"""Streaming distribution-drift monitor — the streaming twin of
:func:`lithops_dataframe_spark.operators.evaluation.ks_two_sample_by_group`
(round 9; completes the batch/stream pairing the dedup and reservoir
families already have).

Shape: a FROZEN reference sample is written once; every arriving
micro-batch is tested against it with the exact two-sample KS statistic
(cross-multiplied BIGINT form — no floats anywhere), producing one
drift row per (group, epoch) in an epoch-keyed decisions table. This is
the standard online drift monitor: per-epoch cost is O(reference +
batch) with the grouped running sums of ``operators.util.prefix_sums``, and the
reference never grows. At 100 TB the reference is a pinned sample
table (documented contract) and the per-batch KS is the alerting
signal a data-quality pipeline pages on.

Exactly-once across retries by epoch-keyed overwrite, same recipe as
streaming/dedup.py and streaming/reservoir.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from lithops_dataframe_spark.operators.evaluation import ks_two_sample_by_group
from lithops_dataframe_spark.streaming.sinks import start_foreach_batch


def ks_drift_batch_step(
    batch_df: DataFrame,
    epoch_id: int,
    ref_path: str,
    decisions_dir: str,
    *,
    group_col: str,
    value_col: str,
) -> None:
    """One micro-batch step: exact KS of the batch's values against the
    frozen reference, per group; one row per group written under
    ``decisions/epoch=<id>``. Exposed separately so tests can drive
    single steps."""
    from lithops_dataframe_spark import cache

    spark = batch_df.sparkSession
    # ks_two_sample_by_group persist_tracked()s its range-partitioned
    # midframe; on a REAL continuous stream nothing else would ever evict
    # it (registry builders release on entry, but a library caller's
    # stream runs for days). cache.scope() releases ONLY this step's
    # persists on exit — release_all() here would evict a co-resident
    # caller's correctness-critical frames session-wide (ADVICE r9); the
    # write below materializes the result before the scope closes.
    with cache.scope():
        ref = spark.read.parquet(ref_path).select(
            group_col, value_col, F.lit(1).alias("__is_ref")
        )
        cur = batch_df.select(group_col, value_col, F.lit(0).alias("__is_ref"))
        out = ks_two_sample_by_group(
            ref.unionByName(cur), group_col, value_col, "__is_ref"
        )
        out.write.mode("overwrite").parquet(f"{decisions_dir}/epoch={epoch_id}")


def foreach_batch_ks_drift(
    stream_df: DataFrame,
    ref_path: str,
    decisions_dir: str,
    checkpoint: str,
    *,
    group_col: str,
    value_col: str,
) -> StreamingQuery:
    """Wire :func:`ks_drift_batch_step` into a foreachBatch streaming
    query that drains every available input and stops."""

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        ks_drift_batch_step(
            batch_df,
            int(epoch_id),
            ref_path,
            decisions_dir,
            group_col=group_col,
            value_col=value_col,
        )

    return start_foreach_batch(stream_df, apply, checkpoint)
