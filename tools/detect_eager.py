"""Detect which registered query BUILDERS are eager — i.e. run Spark jobs
while merely CONSTRUCTING their result DataFrame (training loops that
collect model state, streaming queries that drive a real stream to
completion, io queries that write fixture tables first).

``bench.py`` times exactly these (``tools/eager_builders.txt``) with a
phase-local warmup and a best-of-4: their construction job cascades pick
up session-phase noise that the lazy rows' best-of-2 cannot remove. This
tool keeps that list HONEST: it builds every registered query at sf0.001
and reports the job-count delta attributable to construction.

    python tools/detect_eager.py          # print name -> jobs for eager ones

``tests/test_eager_builders.py`` re-runs the same detection so a new
eager builder can't silently land outside the documented list (and a
builder that becomes lazy gets removed from it).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def builder_job_counts(spark, sf_dir: str) -> dict[str, int]:
    """name -> number of Spark jobs the builder launched during
    construction BEYOND its batch source reads (0 = lazy).

    Every ``DataFrameReader`` call on a path fires one small schema/
    listing job even for a perfectly lazy plan, so raw job counts would
    flag the whole registry. The reader methods are counted during each
    build and one job per read is treated as construction noise; only a
    builder with MORE jobs than reads (training collects, sink writes,
    a stream driven to completion) is eager. A read that launches no job
    (explicit schema) can only under-count — never false-flags. The
    catalog's relation cache is cleared before each build so that
    its table reads again cost their one inference job each."""
    from pyspark.sql.readwriter import DataFrameReader

    from lithops_dataframe_spark.catalog import RELATIONS
    from lithops_dataframe_spark.plans import QUERIES

    sc = spark.sparkContext

    def job_counter() -> int:
        # DAGScheduler.nextJobId is an AtomicInteger; py4j unwraps the
        # accessor to the current int value on each call
        return sc._jsc.sc().dagScheduler().nextJobId()

    reads = {"n": 0}
    patched = {}

    def wrap(method_name):
        orig = getattr(DataFrameReader, method_name)

        def counted(self, *a, **kw):
            reads["n"] += 1
            return orig(self, *a, **kw)

        patched[method_name] = orig
        setattr(DataFrameReader, method_name, counted)

    for m in ("load", "parquet", "csv", "json", "orc", "text"):
        wrap(m)
    out: dict[str, int] = {}
    try:
        for name in sorted(QUERIES):
            RELATIONS.clear()
            before_jobs, before_reads = job_counter(), reads["n"]
            try:
                QUERIES[name](spark, sf_dir)
            except Exception as exc:  # noqa: BLE001 - report, don't mask
                out[name] = -1
                print(f"ERROR {name}: {exc}", file=sys.stderr)
                continue
            jobs = job_counter() - before_jobs
            nreads = reads["n"] - before_reads
            out[name] = max(0, jobs - nreads)
    finally:
        for m, orig in patched.items():
            setattr(DataFrameReader, m, orig)
    return out


def main() -> int:
    from lithops_dataframe_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("detect-eager", shuffle_partitions=8)
    counts = builder_job_counts(spark, sf_dir)
    eager = {n: c for n, c in counts.items() if c != 0}
    print(f"{len(counts)} builders, {len(eager)} eager:")
    for n, c in sorted(eager.items(), key=lambda kv: -kv[1]):
        print(f"  {n}: {c} jobs")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
