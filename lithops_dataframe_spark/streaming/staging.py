"""Micro-batch replay staging shared by the six replay gate queries
(stream_incremental_dedup, stream_incremental_reservoir,
stream_ks_drift, stream_merge_upsert_sink, stream_stateful_running_totals,
stream_counter_agg): split a batch frame into N ascending-key parquet
files whose mtimes force Structured Streaming's file source
(maxFilesPerTrigger=1 + availableNow) to replay them as N ordered
micro-batch epochs. Each query returns the lazy read of what its stream
wrote, readable until the next ``cache.release_all``.

Extracted round 9 — three queries had line-for-line copies of this
scaffold, so a fix to it (the r8 temp-dir leak, the r8
awaitTermination-timeout lesson) needed three edits; now it needs one.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import Column, DataFrame
from pyspark.sql.streaming import StreamingQuery


def stage_microbatches(
    df: DataFrame, batch_expr: Column, n_batches: int, replay_dir: str
) -> list[str]:
    """Write ``df`` filtered by ``batch_expr == b`` (b = 0..n-1) to
    ``replay_dir/b<b>.parquet``, one single-part file per batch, with
    mtimes pinned ascending so the file stream consumes them in batch
    order. Returns the file paths.

    Contract note (ADVICE r12): row order INSIDE each staged file is not
    the source order — the one-pass partitionBy write shuffles on the
    batch key, so rows land in hash-task order. Every consumer here is
    order-insensitive within an epoch (aggregates / joins / set ops), or
    sorts each batch itself (user_counter_agg, by (ts, event_id)); any
    other order-sensitive consumer must add sortWithinPartitions on a
    stable key before the write. An empty batch still produces a
    (zero-row) file — its epoch fires with an empty frame, which the
    step functions must handle (and their tests pin)."""
    os.makedirs(replay_dir, exist_ok=True)
    # ONE pass over the source (r12, guide §1.2): the previous form ran
    # n_batches filter+coalesce(1) writes, i.e. n_batches full scans of
    # the (possibly expensive) staging lineage. A single partitionBy
    # write splits every batch in one job; repartition(n, __b) lands each
    # batch value in one task, so each batch directory holds exactly one
    # part file. Batch values that produce no rows get an explicit
    # zero-row file afterwards (schema-only job, no source scan) — the
    # contract that an empty epoch still fires is unchanged.
    tmp = os.path.join(replay_dir, "_staged")
    from pyspark.sql import functions as F

    from lithops_dataframe_spark.operators.util import empty_frame

    (
        df.withColumn("__b", batch_expr.cast("int"))
        .repartition(n_batches, "__b")
        .write.partitionBy("__b")
        .mode("overwrite")
        .parquet(tmp)
    )
    spark = df.sparkSession
    files = []
    for b in range(n_batches):
        d = os.path.join(tmp, f"__b={b}")
        dst = os.path.join(replay_dir, f"b{b}.parquet")
        parts = (
            [n for n in os.listdir(d) if n.endswith(".parquet")]
            if os.path.isdir(d)
            else []
        )
        if parts:
            shutil.copy(os.path.join(d, parts[0]), dst)
        else:  # empty batch: write a zero-row file with the data schema
            empty_dir = os.path.join(tmp, f"__empty{b}")
            empty_frame(spark, df.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(empty_dir)
            part = [n for n in os.listdir(empty_dir) if n.endswith(".parquet")][0]
            shutil.copy(os.path.join(empty_dir, part), dst)
        files.append(dst)
    shutil.rmtree(tmp)
    now = time.time()
    for i, f in enumerate(files):
        age = 60 * (len(files) - i)
        os.utime(f, (now - age, now - age))
    return files


def clamped_batch_expr(max_id: int, n_batches: int, id_col: str = "doc_id") -> Column:
    """The staging batch index shared by the incremental streaming gate
    queries: ``(id * n) div (max_id + 1)`` clamped into [0, n-1].

    The clamp keeps a NEGATIVE id in the FIRST micro-batch instead of
    silently dropping it from the stream (ADVICE r9 — the batch
    operators and shared oracles count every non-null id); clamping is
    monotone in the id, so order-dependent dedup rules ("kept iff no
    smaller-id near-dup") survive. The divisor guard covers an
    all-negative corpus (max_id + 1 <= 0). ONE definition used by both
    plans and the regression test, so the guard cannot rot in one copy
    (code-review r10)."""
    from pyspark.sql import functions as F

    div_ = max(int(max_id) + 1, 1)
    return F.expr(
        f"least(greatest(({id_col} * {n_batches}) div {div_}, 0), {n_batches - 1})"
    )


def await_or_raise(q: StreamingQuery, timeout_s: int, name: str) -> None:
    """``awaitTermination(timeout)`` returns False on timeout — reading
    back a partial decisions/state table would silently pass a wrong
    result to the gate, so stop the stream and fail loudly instead
    (ADVICE r8)."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"{name}: stream did not finish within {timeout_s}s")
