"""``tools/measure.py``: the one runner's records, conf restoration, and the
run-file comparison's verdicts.

The q13 counts are those of the sf0.001 fixture on the conftest session:
with broadcasts allowed the small side of its one join is broadcast, so
only the aggregation exchanges shuffle; with the threshold at -1 the join
becomes a sort-merge join and both inputs shuffle.
"""

from __future__ import annotations

import json

import pytest

from lithops_dataframe_spark.plans import QUERIES
from perfbench.tracer import plan_counts
from tools import measure

from tests.conftest import SF_SMOKE

KEY = "spark.sql.autoBroadcastJoinThreshold"
Q13 = "q13_customer_order_distribution"


@pytest.fixture(scope="module")
def q13_runs(spark):
    spark.catalog.clearCache()
    before = spark.conf.get(KEY)
    records = measure.run(spark, [Q13], ["session", f"nobc:{KEY}=-1"], reps=1, sf_dir=SF_SMOKE)
    return before, records


def test_sides_record_their_plans(q13_runs):
    _, records = q13_runs
    assert [(r["side"], r["rep"]) for r in records] == [("session", 0), ("nobc", 0), ("session", 1), ("nobc", 1)]
    for r in records:
        bc = r["side"] == "session"
        assert (r["broadcasts"], r["shuffle_records"], r["rows_out"]) == ((1, 167, 17) if bc else (0, 1667, 17))
        assert r["jobs"] > 0 and r["tasks"] >= r["stages"] > 0
        assert r["stream_epochs"] == 0


def test_side_conf_is_restored(spark, q13_runs):
    before, _ = q13_runs
    assert spark.conf.get(KEY) == before


def test_runner_plan_counts_equal_collect(spark, q13_runs):
    _, records = q13_runs
    spark.catalog.clearCache()
    df = QUERIES[Q13](spark, SF_SMOKE)
    df.collect()
    want = plan_counts(df._jdf.queryExecution().executedPlan())
    for r in records:
        if r["side"] == "session":
            assert {k: r[k] for k in want} == want


@pytest.mark.parametrize("wrapped", [True, False])
def test_compare_exit_codes(tmp_path, wrapped):
    def write(name, queries):
        path = tmp_path / name
        if wrapped:  # a driver-recorded bench file: one indented JSON document
            path.write_text(json.dumps({"n": 1, "parsed": {"queries": queries}}, indent=2))
        else:  # a measure.py run: the side summary is the last line
            path.write_text(json.dumps({"query": "a", "seconds": 9.0}) + "\n" + json.dumps({"side": "s", "queries": queries}) + "\n")
        return str(path)

    base = write("base.json", {"a": 1.0, "b": 2.0, "old": 1.0})
    assert measure.compare(write("ok.json", {"a": 2.0, "b": 1.0, "new": 5.0}), base) == 0
    assert measure.compare(write("slow.json", {"a": 2.01, "b": 1.0}), base) == 1
