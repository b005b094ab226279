"""Streaming incremental weighted reservoir — the streaming twin of
:func:`lithops_dataframe_spark.operators.sampling.weighted_reservoir_sample`
(round 9; same pattern as streaming/dedup.py's batch/stream pairing).

A-ES reservoir sampling is the rare operator whose streaming form is
EXACTLY its batch form: the order-statistic key −ln(u)/w is a pure
per-row function, so ``top-k(state ∪ batch) = top-k(all rows so far)``
— merging each micro-batch's top-k into a standing k-row state table
reproduces the batch reservoir bit-for-bit, no approximation, no
watermark. Per-epoch cost is O(batch) key computation + a k-row merge;
the standing state is k rows TOTAL (not per epoch), which is the whole
point of a reservoir at 100 TB: the firehose never accumulates.

Exactly-once across retries by epoch-keyed state snapshots: epoch e
merges the LATEST state with epoch < e and overwrites
``state/epoch=e`` — a retried micro-batch recomputes from its
predecessor state, never from its own half-written output (same recipe
as streaming/dedup.py's index).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from lithops_dataframe_spark.operators.sampling import weighted_reservoir_sample
from lithops_dataframe_spark.streaming import fsutil
from lithops_dataframe_spark.streaming.sinks import start_foreach_batch


def _state_schema(extra: dict[str, str]) -> T.StructType:
    fields = [
        T.StructField("id", T.LongType()),
        T.StructField("w", T.LongType()),
    ]
    for name, typ in extra.items():
        fields.append(T.StructField(name, getattr(T, typ)()))
    fields.append(T.StructField("res_key", T.DoubleType()))
    return T.StructType(fields)


def _read_latest_state(
    spark, state_dir: str, before_epoch: int, schema: T.StructType
) -> DataFrame:
    """The k-row state snapshot of the newest epoch strictly before
    ``before_epoch`` (ONE partition read — earlier snapshots are
    superseded, not merged); empty frame on the first epoch. Epochs are
    listed through the Hadoop FileSystem API (streaming/fsutil.py), so
    state recovery works when ``state_dir`` is on HDFS/S3, not only the
    driver's local disk (ADVICE r9)."""
    prior = [e for e in fsutil.list_epochs(spark, state_dir) if e < before_epoch]
    if prior:
        return spark.read.schema(schema).parquet(
            os.path.join(state_dir, f"epoch={max(prior)}")
        )
    from lithops_dataframe_spark.operators.util import empty_frame

    return empty_frame(spark, schema)


def reservoir_batch_step(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    *,
    weight_col: str,
    id_col: str,
    k: int,
    extra: dict[str, str],
) -> None:
    """One micro-batch step: take the batch's own top-k keys, merge with
    the standing k-row state, snapshot to ``state/epoch=<id>``. Exposed
    separately so tests can drive single steps."""
    spark = batch_df.sparkSession
    schema = _state_schema(extra)
    batch_top = weighted_reservoir_sample(
        batch_df, weight_col, id_col, k=k, extra_cols=tuple(extra)
    ).select([f.name for f in schema.fields])
    prev = _read_latest_state(spark, state_dir, epoch_id, schema)
    merged = (
        prev.unionByName(batch_top)
        .orderBy(F.col("res_key").asc(), F.col("id").asc())
        .limit(k)
    )
    merged.write.mode("overwrite").parquet(
        os.path.join(state_dir, f"epoch={epoch_id}")
    )


def foreach_batch_reservoir(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint: str,
    *,
    weight_col: str,
    id_col: str,
    k: int,
    extra: dict[str, str],
) -> StreamingQuery:
    """Wire :func:`reservoir_batch_step` into a foreachBatch streaming
    query that drains every available input and stops. After the stream
    drains, the newest ``state/epoch=*`` partition IS the weighted
    reservoir of every row that ever arrived — equal by construction to
    the batch operator over the union of all batches."""

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        reservoir_batch_step(
            batch_df,
            int(epoch_id),
            state_dir,
            weight_col=weight_col,
            id_col=id_col,
            k=k,
            extra=extra,
        )

    return start_foreach_batch(stream_df, apply, checkpoint)
