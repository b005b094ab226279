"""Streaming sink round-trips: replayed events stream → sink files →
read-back must equal the batch input exactly (exactly-once contract of
the checkpointed file sink and the epoch-keyed foreachBatch sink)."""

from __future__ import annotations

import os
import shutil
import tempfile
from urllib.parse import urlparse

import pytest

from lithops_dataframe_spark import cache
from lithops_dataframe_spark.catalog import normalize_events_ts
from lithops_dataframe_spark.plans import QUERIES
from lithops_dataframe_spark.streaming import events as SE
from lithops_dataframe_spark.streaming.sinks import (
    foreach_batch_epoch_sink,
    write_stream_parquet,
)

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def replay_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_sink_replay")
    src = f"{SF_SMOKE}/events.parquet"
    shutil.copy(src, d / "part-0000.parquet")
    shutil.copy(src, d / "part-0001.parquet")
    return str(d)


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_parquet_file_sink_roundtrip(spark, replay_dir, tmp_path):
    raw = spark.read.parquet(replay_dir)
    stream = normalize_events_ts(SE.read_events_stream(spark, replay_dir, raw.schema))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = write_stream_parquet(stream, out, ckpt)
    assert q.awaitTermination(300)
    assert _rows(spark.read.parquet(out)) == _rows(normalize_events_ts(raw))


def test_foreach_batch_epoch_sink_roundtrip(spark, replay_dir, tmp_path):
    raw = spark.read.parquet(replay_dir)
    stream = normalize_events_ts(SE.read_events_stream(spark, replay_dir, raw.schema))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = foreach_batch_epoch_sink(stream, out, ckpt)
    assert q.awaitTermination(300)
    back = spark.read.option("basePath", out).parquet(out + "/epoch=*").drop("epoch")
    assert _rows(back) == _rows(normalize_events_ts(raw))


def test_checkpoint_restart_incremental(spark, tmp_path):
    """Exactly-once across RESTARTS: a second query started on the SAME
    checkpoint after new files landed processes only the new files — the
    output holds every input row exactly once (no reprocessing, no gaps).
    This is the nightly-incremental production pattern: availableNow runs
    to completion, terminates, and the next run resumes from the offsets
    the checkpoint recorded."""
    import time

    src = f"{SF_SMOKE}/events.parquet"
    in_dir, out, ckpt = tmp_path / "in", str(tmp_path / "out"), str(tmp_path / "ckpt")
    in_dir.mkdir()

    shutil.copy(src, in_dir / "b0.parquet")
    schema = spark.read.parquet(str(in_dir)).schema
    stream = normalize_events_ts(SE.read_events_stream(spark, str(in_dir), schema))
    assert write_stream_parquet(stream, out, ckpt).awaitTermination(300)
    n_first = spark.read.parquet(out).count()

    time.sleep(1.2)
    shutil.copy(src, in_dir / "b1.parquet")  # new data lands between runs
    stream2 = normalize_events_ts(SE.read_events_stream(spark, str(in_dir), schema))
    assert write_stream_parquet(stream2, out, ckpt).awaitTermination(300)

    back = spark.read.parquet(out)
    expected = normalize_events_ts(spark.read.parquet(str(in_dir)))
    assert back.count() == 2 * n_first  # each file exactly once
    assert _rows(back) == _rows(expected)


def test_merge_sink_retry_is_idempotent(spark, tmp_path):
    """The merge sink's exactly-once story rests on upsert idempotency:
    applying the SAME micro-batch twice (a post-failure retry) must leave
    the target identical, and a later batch must replace earlier per-key
    rows while untouched keys survive. Drives the REAL merge_apply the
    foreachBatch closure calls."""
    import pandas as pd
    from pyspark.sql import functions as F

    from lithops_dataframe_spark.streaming.sinks import merge_apply

    target = str(tmp_path / "t")

    def mk(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["user_id", "n_events", "cents"])
        ).withColumn("part", F.col("user_id") % 4)

    b0 = mk([(0, 5, 100), (1, 3, 50), (4, 2, 20)])  # parts 0, 1, 0
    b1 = mk([(1, 9, 999), (5, 1, 10)])  # parts 1, 1
    merge_apply(b0, target, key_col="user_id", part_col="part")
    merge_apply(b1, target, key_col="user_id", part_col="part")
    once = sorted(map(tuple, spark.read.parquet(target).collect()))
    merge_apply(b1, target, key_col="user_id", part_col="part")  # retry
    twice = sorted(map(tuple, spark.read.parquet(target).collect()))
    assert once == twice, "retried merge changed the target"
    got = {r[0]: (r[1], r[2]) for r in twice}
    assert got[1] == (9, 999), "later epoch did not replace the key"
    assert got[0] == (5, 100) and got[4] == (2, 20), "untouched keys lost"
    assert got[5] == (1, 10)


#: registered builders that stage a replay and drive a real stream to
#: completion while building their frame
REPLAY_BUILDERS = (
    "stream_counter_agg",
    "stream_incremental_dedup",
    "stream_incremental_reservoir",
    "stream_ks_drift",
    "stream_merge_upsert_sink",
    "stream_stateful_running_totals",
)
#: the replay builders whose stream writes parquet (the other two read a
#: memory sink)
PARQUET_READ_BACK = (
    "stream_incremental_dedup",
    "stream_incremental_reservoir",
    "stream_ks_drift",
    "stream_merge_upsert_sink",
)


@pytest.mark.parametrize("name", REPLAY_BUILDERS)
def test_replay_builder_leaves_nothing_behind(spark, sf_dir, name):
    """A replay builder stops its stream before it returns; its staging
    (work dir, sink view) stays readable until the next release, and
    :func:`cache.release_all` then removes every piece of it."""

    def state():
        work = {n for n in os.listdir(tempfile.gettempdir()) if n.startswith("lds_")}
        views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        return work, views

    cache.release_all()
    work, views = state()
    streams = {q.id for q in spark.streams.active}
    df = QUERIES[name](spark, sf_dir)
    left = {q.id for q in spark.streams.active} - streams
    assert not left, f"streams still running after return: {sorted(left)}"
    if name in PARQUET_READ_BACK:  # the lazy read of what the stream wrote
        tmp = os.path.realpath(tempfile.gettempdir())
        files = df.inputFiles()
        assert files, "the frame reads no files: the result was collected"
        for f in files:
            rel = os.path.relpath(os.path.realpath(urlparse(f).path), tmp)
            assert rel.startswith("lds_"), f"{f} is not under an lds_* dir of {tmp}"
    df.collect()  # the frame reads its staging, which must still be there
    cache.release_all()
    new_work, new_views = state()
    assert new_work <= work, f"work dirs left behind: {sorted(new_work - work)}"
    assert new_views <= views, f"temp views left behind: {sorted(new_views - views)}"
