"""One measurement harness: interleaved same-session runs of registered
queries, and a per-query comparison of two recorded runs.

    python tools/measure.py run NAME... [--side LABEL[:k=v,...]]... [--reps N]
    python tools/measure.py compare NOW BASE

``run`` measures every NAME (a registered query or one of
``bench.EXTRA_SCALE_QUERIES``) on each side in one session. A side is a
label plus any of ``spark.*`` runtime SQL confs and ``sf=DIR``; ``sf=x10``
is the 10x key-shifted copy of ``$SPARK_GRAFT_SF_DIR`` that ``bench.py``'s
scale curve builds (``tools/scale_fixture.build``, same path). Without
``--side`` there is one side, ``base``. Per query, each side gets one
recorded cold run, then N reps interleaved A B A B, so a host stall lands
on every side.

Every run goes through one runner: build the frame, force its executed
plan, then ``queryExecution().toRdd().count()``. That action executes the
very plan the frame reports, so ``perfbench.tracer.plan_counts`` sees the
same metrics a ``collect()`` would, yet no row travels to the driver. (The
noop sink plans a separate QueryExecution, leaving the frame's plan
without metrics; ``collect()`` also times driver transfer, which grows
with output at 10x.) Each run prints one JSON line: build/plan/action
seconds, rows out, job/stage/task counts by job-id range, the executed
plan's counts and per-epoch stream trigger ms. Then one
``{"side", "queries": {name: median_s}}`` line per side goes to stdout
and a table of side/first-side median ratios to stderr.

``compare`` reads the JSON document in each file, or else its last line,
unwraps a driver-recorded ``parsed`` wrapper, prints NOW/BASE for every
query in both ``queries`` maps and exits 1 if any is over 2x.

A core-count scaling leg is one process per count, then a compare:

    SPARK_GRAFT_CPUS=8 python tools/measure.py run NAME... --side x10:sf=x10 > leg8.jsonl
    SPARK_GRAFT_CPUS=32 python tools/measure.py run NAME... --side x10:sf=x10 > leg32.jsonl
    python tools/measure.py compare leg8.jsonl leg32.jsonl
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from perfbench.tracer import Tracer, plan_counts  # noqa: E402

REGRESSION = 2.0


def parse_side(spec: str) -> dict:
    """``LABEL[:k=v,...]`` -> {"label", "confs", "sf"}."""
    label, _, rest = spec.partition(":")
    side = {"label": label, "confs": {}, "sf": None}
    for item in filter(None, rest.split(",")):
        key, _, value = item.partition("=")
        if key == "sf":
            side["sf"] = value
        elif key.startswith("spark."):
            side["confs"][key] = value
        else:
            raise ValueError(f"side {label!r}: {key!r} is neither sf nor a spark.* conf")
    return side


def fixture_dir(spark, base: str, sf: str | None) -> str:
    if sf != "x10":
        return sf or base
    from bench import SCALE_COPIES
    from tools.scale_fixture import build

    tag = os.path.basename(base.rstrip("/"))
    out_dir = os.path.join(tempfile.gettempdir(), f"lds_scale{SCALE_COPIES}_{tag}")
    return build(spark, base, out_dir, copies=SCALE_COPIES)


@contextlib.contextmanager
def confs_set(spark, confs: dict):
    """Set runtime confs for the block, then restore (or unset) them."""
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_once(tracer: Tracer, build) -> dict:
    """Build, plan and act on one frame; return its record."""
    tracer._drain()
    tracer._stream_counts()  # drop events from before this run
    next_job = tracer._sc.dagScheduler().nextJobId
    job0 = next_job()
    t0 = time.perf_counter()
    df = build()
    t1 = time.perf_counter()
    build_jobs = next_job() - job0
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    t2 = time.perf_counter()
    rows = qe.toRdd().count()
    t3 = time.perf_counter()
    tracer._drain()
    jobs, stages, tasks = tracer._action_counts(job0, next_job())
    return {
        "seconds": round(t3 - t0, 4),
        "build_s": round(t1 - t0, 4),
        "plan_s": round(t2 - t1, 4),
        "action_s": round(t3 - t2, 4),
        "rows_out": rows,
        "build_jobs": build_jobs,
        "jobs": jobs,
        "stages": stages,
        "tasks": tasks,
        **plan_counts(qe.executedPlan()),
        **tracer._stream_counts(),
    }


def run(spark, names: list[str], sides: list[str], reps: int = 3, sf_dir: str | None = None) -> list[dict]:
    """Measure ``names`` on every side; print and return one record per run."""
    from bench import EXTRA_SCALE_QUERIES
    from lithops_dataframe_spark.plans import QUERIES
    from lithops_dataframe_spark.session import DEFAULT_SF_DIR

    allq = {**QUERIES, **EXTRA_SCALE_QUERIES}
    parsed = [parse_side(s) for s in sides]
    for side in parsed:
        side["dir"] = fixture_dir(spark, sf_dir or DEFAULT_SF_DIR, side["sf"])
    tracer = Tracer(spark, time.perf_counter())
    spark.streams.addListener(tracer._listener)
    records: list[dict] = []
    try:
        for name in names:
            fn = allq[name]
            for rep in range(reps + 1):  # rep 0 is the cold run
                for side in parsed:
                    with confs_set(spark, side["confs"]):
                        rec = run_once(tracer, lambda: fn(spark, side["dir"]))
                    rec = {"query": name, "side": side["label"], "rep": rep, **rec}
                    print(json.dumps(rec), flush=True)
                    records.append(rec)
    finally:
        spark.streams.removeListener(tracer._listener)

    medians: dict[str, dict[str, float]] = {}
    for side in parsed:
        label = side["label"]
        warm = [r for r in records if r["side"] == label and (r["rep"] or not reps)]
        medians[label] = {
            name: round(statistics.median(r["seconds"] for r in warm if r["query"] == name), 4) for name in names
        }
        print(json.dumps({"side": label, "queries": medians[label]}), flush=True)

    labels = list(medians)
    header = "".join(f"{lab:>12s}" for lab in labels) + "".join(f"{lab + '/' + labels[0]:>16s}" for lab in labels[1:])
    print(f"\n{'query':40s}{header}", file=sys.stderr)
    for name in names:
        row = [medians[lab][name] for lab in labels]
        ratios = [f"{v / row[0]:15.2f}x" if row[0] > 0 else f"{'-':>16s}" for v in row[1:]]
        print(f"{name:40s}" + "".join(f"{v:12.3f}" for v in row) + "".join(ratios), file=sys.stderr)
    return records


def load_queries(path: str) -> dict[str, float]:
    with open(path) as f:
        text = f.read()
    try:
        doc = json.loads(text)
    except ValueError:
        doc = json.loads(text.strip().splitlines()[-1])
    return doc.get("parsed", doc)["queries"]


def compare(now_path: str, base_path: str) -> int:
    """Print NOW/BASE per common query; 1 if any exceeds ``REGRESSION``."""
    now, base = load_queries(now_path), load_queries(base_path)
    common = sorted(set(now) & set(base))
    bad = 0
    for name in common:
        r = now[name] / base[name] if base[name] > 0 else float("inf")
        bad += r > REGRESSION
        flag = "REGRESSION" if r > REGRESSION else "ok"
        print(f"{flag:10s} {name:40s} {base[name]:8.2f}s -> {now[name]:8.2f}s  ({r:5.2f}x)")
    only_now = sorted(set(now) - set(base))
    if only_now:
        print(f"new-only ({len(only_now)}): {', '.join(only_now)}")
    print(f"common total: {sum(base[n] for n in common):.2f}s -> {sum(now[n] for n in common):.2f}s")
    print(f"regressions (> {REGRESSION}x): {bad}")
    return 1 if bad else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Interleaved query measurement and run comparison.")
    sub = ap.add_subparsers(dest="cmd", required=True)
    run_p = sub.add_parser("run")
    run_p.add_argument("names", nargs="+")
    run_p.add_argument("--side", action="append", help="LABEL[:spark.conf=v,...,sf=DIR|x10]; repeatable")
    run_p.add_argument("--reps", type=int, default=3)
    cmp_p = sub.add_parser("compare")
    cmp_p.add_argument("now")
    cmp_p.add_argument("base")
    args = ap.parse_args(argv)
    if args.cmd == "compare":
        return compare(args.now, args.base)
    from lithops_dataframe_spark.session import get_spark

    run(get_spark("lds-measure"), args.names, args.side or ["base"], args.reps)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
