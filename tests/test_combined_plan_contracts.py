"""Plan contracts for the six ``*_combined`` driver-slot queries and
``text_hashed_tfidf``.

Five combined queries are built from their standalone twins plus a tag and
a reduce step. Composing twins naively can add work the inline form never
had: ``red_prod`` as the prod leg cross-joins an extra row count (two more
exchanges, a broadcast and a lineitem scan), and summing
``setop_union_all``'s per-kind counts adds an exchange.
``win_ranking_combined`` has no twins; its window specs share one
partitioning, so its plan has one exchange. ``text_hashed_tfidf`` must
reuse its (doc_id, bucket) term-frequency exchange for the idf side, so the
corpus is tokenized once (the reused exchange VERDICT.md's r13 item 4 asks
to pin). The executed (AQE-final) plan on the sf0.001 fixture is pinned
here as (exchanges, reused exchanges, broadcasts, scanned rows), counted
with the benchmark's own plan walk (``perfbench.tracer.plan_counts``), so
such a composition or a lost reuse fails.

Every case starts from an empty cache: a table another test left
materialized reports exact sizes to the planner, which can change its
join choices and therefore the counts.
"""

from __future__ import annotations

import pytest

from lithops_dataframe_spark.plans import QUERIES
from perfbench.tracer import plan_counts

from tests.conftest import SF_SMOKE

#: query -> (exchanges, reused_exchanges, broadcasts, scan_rows)
EXPECTED = {
    "join_types_combined": (15, 0, 5, 11465),
    "setop_combined": (10, 1, 1, 3470),
    "red_stats_combined": (13, 0, 6, 42000),
    "agg_shapes_combined": (8, 0, 0, 19500),
    "scalar_funcs_combined": (0, 0, 0, 8200),
    "win_ranking_combined": (1, 0, 0, 1500),
    "text_hashed_tfidf": (7, 1, 2, 1000),
}


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_combined_plan_counts(spark, name):
    spark.catalog.clearCache()
    df = QUERIES[name](spark, SF_SMOKE)
    assert df.collect()
    c = plan_counts(df._jdf.queryExecution().executedPlan())
    got = (c["exchanges"], c["reused_exchanges"], c["broadcasts"], c["scan_rows"])
    assert got == EXPECTED[name]
