"""Streaming sinks (SURVEY §2.10): the write half of the streaming slice.

- :func:`write_stream_parquet` — the built-in exactly-once file sink:
  checkpointed offsets + a write-ahead file manifest mean a restarted
  query never duplicates or drops a micro-batch.
- :func:`foreach_batch_epoch_sink` — the ``foreachBatch`` escape hatch for
  sinks Spark doesn't ship (JDBC upserts, external indexes…): idempotence
  comes from keying the write by ``epoch_id`` (a retried batch overwrites
  its own directory instead of appending twice) — the standard recipe for
  exactly-once with arbitrary sinks.
- :func:`start_foreach_batch` — the one start path every foreachBatch
  stream in the engine goes through (checkpointed, availableNow).

The two sinks are verified in tests/test_streaming_sinks.py: replayed events in →
files out → read-back equals the batch input exactly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def write_stream_parquet(stream_df: DataFrame, path: str, checkpoint: str) -> StreamingQuery:
    """Exactly-once parquet append sink (checkpointed file manifest),
    draining every available input (availableNow) and stopping."""
    return (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def start_foreach_batch(
    stream_df: DataFrame, fn: Callable[[DataFrame, int], None], checkpoint: str
) -> StreamingQuery:
    """The one start path of every foreachBatch stream: run ``fn(batch,
    epoch_id)`` per micro-batch under ``checkpoint``, draining every
    available input (availableNow) and stopping."""
    return (
        stream_df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def merge_apply(
    batch: DataFrame, path: str, *, key_col: str, part_col: str
) -> None:
    """One MERGE step: upsert ``batch``'s keyed rows into the partitioned
    parquet target at ``path`` — read the touched partitions, anti-join
    the batch's keys, union, dynamic-partition overwrite. Idempotent for
    identical input (the property the streaming sink's exactly-once story
    rests on); untouched partitions are never rewritten."""
    from pyspark.sql import functions as F

    from lithops_dataframe_spark.streaming import fsutil

    spark = batch.sparkSession
    if batch.rdd.isEmpty():
        return
    # Hadoop-FS listing (not os.listdir) so the sink target can live on
    # HDFS/S3 — same contract as the dedup index and reservoir state.
    initialized = any(
        n.startswith(part_col + "=") for n in fsutil.list_dir(spark, path)
    )
    if not initialized:
        batch.repartition(part_col).write.partitionBy(part_col).mode(
            "overwrite"
        ).parquet(path)
        return
    parts = [r[0] for r in batch.select(part_col).distinct().collect()]
    target = spark.read.parquet(path)
    touched = target.filter(F.col(part_col).isin(parts))
    keep = touched.join(batch.select(key_col), key_col, "left_anti")
    merged = keep.unionByName(batch.select(*touched.columns))
    (
        merged.repartition(part_col)
        .write.option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .mode("overwrite")
        .parquet(path)
    )


def foreach_batch_merge_upsert_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    *,
    transform,
    key_col: str,
    part_col: str,
) -> StreamingQuery:
    """foreachBatch MERGE sink — the streaming CDC-apply pattern: each
    micro-batch is ``transform``-ed into keyed rows and MERGED into the
    partitioned parquet target (read the touched partitions, anti-join
    the batch's keys, union, dynamic-partition overwrite), so later
    epochs replace earlier rows per key and untouched partitions are
    never rewritten.

    Exactly-once without a transaction log: an upsert of identical input
    is idempotent, so a micro-batch retried after a failure re-applies
    to the same end state — the same reasoning Delta's MERGE gives you,
    on plain parquet. At scale the per-epoch cost is O(touched
    partitions), which is what makes continuous CDC-apply viable."""

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        merge_apply(
            transform(batch_df), path, key_col=key_col, part_col=part_col
        )

    return start_foreach_batch(stream_df, apply, checkpoint)


def foreach_batch_epoch_sink(stream_df: DataFrame, path: str, checkpoint: str) -> StreamingQuery:
    """foreachBatch sink with epoch-keyed idempotent writes.

    Each micro-batch lands in ``path/epoch=<id>`` with mode=overwrite:
    a batch retried after a failure rewrites the same directory, so the
    sink holds each input row exactly once regardless of retries.
    """

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{path}/epoch={epoch_id}")

    return start_foreach_batch(stream_df, write_batch, checkpoint)
