"""sf1-equivalent dry-run of the heaviest STREAMING composition
(VERDICT r10 task 5): stream_incremental_dedup's standing-index probe
cost, measured a decade past the committed scale curve.

The batch pipelines got their sf0.1→sf1-equivalent measurement in round
10 (tools/sf1_dryrun.py, SF1DRYRUN_r10.json). This tool does the same
for the streaming incremental dedup — the one 100 TB surface whose cost
is NOT a function of a single plan but of (epochs × probe-vs-standing-
index joins + compaction): it stages the documents table as E ascending
micro-batches on BOTH legs (sf0.1 base and the 10× key-shifted
sf1-equivalent corpus), replays them through the same foreachBatch step
the gated query uses (same shingle/band/threshold/compact_every), and
records PER-EPOCH wall seconds so probe-cost growth across epochs is a
measured series, not an argument.

What to expect (and what would be a red flag):
- Per-epoch cost grows with the standing index (each probe joins the
  arriving batch's band keys against ALL indexed postings) — linear
  growth in epochs is the designed shape; superlinear growth or a jump
  AFTER a compaction epoch would indicate the maintenance path is
  rewriting history instead of folding it.
- The 10× leg's total should scale ~linearly in corpus volume (same
  epoch count, 10× rows per epoch). Near-dup DECISION output inflates
  for fixture reasons (10 identical text copies), same caveat as every
  cross-row pair op in the committed curve.

Run EXCLUSIVELY (no concurrent Spark sessions). Output: one JSON line;
committed snapshot lives at SF1DRYRUN_STREAM_r{N}.json with prose in
SCALE.md.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = 10
EPOCHS = int(os.environ.get("LDS_STREAM_EPOCHS", "6"))
COMPACT_EVERY = 2  # the gated query's setting


def _run_leg(spark, sf_dir: str, epochs: int) -> dict:
    from pyspark.sql import functions as F

    from lithops_dataframe_spark.streaming.dedup import (
        compact_index,
        incremental_dedup_batch_step,
    )
    from lithops_dataframe_spark.streaming.events import read_events_stream
    from lithops_dataframe_spark.streaming.sinks import start_foreach_batch
    from lithops_dataframe_spark.streaming.staging import (
        await_or_raise,
        clamped_batch_expr,
        stage_microbatches,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    work = tempfile.mkdtemp(prefix="lds_sf1_stream_")
    epoch_secs: list[float] = [0.0] * epochs
    compact_secs: list[float] = [0.0] * epochs
    try:
        replay = os.path.join(work, "replay")
        t0 = time.perf_counter()
        stage_microbatches(docs, clamped_batch_expr(int(mx), epochs), epochs, replay)
        stage_s = time.perf_counter() - t0
        index_dir = os.path.join(work, "index")
        decisions_dir = os.path.join(work, "decisions")

        def apply(batch_df, epoch_id: int) -> None:
            e = int(epoch_id)
            if COMPACT_EVERY and e > 0 and e % COMPACT_EVERY == 0:
                c0 = time.perf_counter()
                compact_index(batch_df.sparkSession, index_dir, before_epoch=e)
                compact_secs[e] = time.perf_counter() - c0
            s0 = time.perf_counter()
            incremental_dedup_batch_step(
                batch_df,
                e,
                index_dir,
                decisions_dir,
                text_col="text",
                id_col="doc_id",
                shingle_n=2,
                bands=4,
                threshold=0.6,
            )
            epoch_secs[e] = time.perf_counter() - s0

        t0 = time.perf_counter()
        stream = read_events_stream(spark, replay + "/*.parquet", docs.schema)
        q = start_foreach_batch(stream, apply, os.path.join(work, "_ckpt"))
        await_or_raise(q, 1800, f"sf1_dryrun_stream[{sf_dir}]")
        total_s = time.perf_counter() - t0
        dec = spark.read.parquet(decisions_dir)
        n_docs = dec.count()
        n_kept = dec.filter(F.col("keep") == 1).count()
        return {
            "stage_sec": round(stage_s, 3),
            "stream_total_sec": round(total_s, 3),
            "epoch_sec": [round(s, 3) for s in epoch_secs],
            "compact_sec": [round(s, 3) for s in compact_secs if s > 0],
            "n_decisions": n_docs,
            "n_kept": n_kept,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    from lithops_dataframe_spark.session import get_spark
    from tools.scale_fixture import build

    spark = get_spark("sf1-dryrun-stream")
    tag = os.path.basename(BASE_SF_DIR.rstrip("/"))
    out_dir = os.path.join(tempfile.gettempdir(), f"lds_scale{COPIES}_{tag}")
    build(spark, BASE_SF_DIR, out_dir, copies=COPIES)

    # untimed warmup of the whole step machinery (JIT/codegen for the
    # shingle/minhash/band expressions) on the small leg
    _run_leg(spark, BASE_SF_DIR, EPOCHS)

    base = _run_leg(spark, BASE_SF_DIR, EPOCHS)
    sf1eq = _run_leg(spark, out_dir, EPOCHS)
    b, x = base["stream_total_sec"], sf1eq["stream_total_sec"]
    print(
        json.dumps(
            {
                "metric": "sf1_dryrun_stream",
                "query": "stream_incremental_dedup (staged, instrumented)",
                "base": BASE_SF_DIR,
                "copies": COPIES,
                "epochs": EPOCHS,
                "compact_every": COMPACT_EVERY,
                "base_leg": base,
                "sf1eq_leg": sf1eq,
                "exponent": round(math.log10(x / b), 3) if b > 0.05 else None,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
