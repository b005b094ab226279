"""Differential test: every registered query with an oracle must match DuckDB
on the smoke fixture (the driver's t2 gate runs the same comparison at
sf0.01; running it here at sf0.001 keeps the suite fast).

The same run checks each query's executed plan for the shapes that do not
scale (``conftest.assert_plan_scales``): no CartesianProduct, no
partition-less Window over an unaggregated input, and no nested-loop join
whose build side is data-sized. A nested-loop join is the quadratic
all-pairs plan that candidate-generation joins exist to avoid, so the only
data-sided ones allowed are the brute-force baselines below, each of which
scores a bounded query set against one corpus scan. The list is exact: an
entry whose query no longer plans a data-sided nested-loop join fails too.

The same run also keeps ``tools/eager_builders.txt`` exact: a builder is
eager if it launches any Spark job while building its frame, with the
catalog warm (so a table read costs none). ``bench.py`` times exactly the
listed builders best-of-4.

Last, ``cache.release_all()`` must remove every ``lds_*`` temp dir, temp
view, catalog table, active stream and cached relation the builder left
behind.

The first 50 of ``ordered_queries()`` must also match their oracles under
session confs that change partitioning and join strategy, in the style of
spark-rapids' ``assert_gpu_and_cpu_are_equal_collect``.
"""

from __future__ import annotations

import os
import tempfile

import pytest

import bench
from lithops_dataframe_spark import cache, catalog
from lithops_dataframe_spark.plans import QUERIES, ORACLES, ordered_queries
from tools.measure import confs_set

from tests.conftest import assert_df_equal, assert_plan_scales, next_job_id

EAGER = bench._eager_names()

#: query -> why its data-sided nested-loop join is bounded anyway
BRUTE_FORCE_JOINS = {
    "decontaminate_semantic": "bounded held-out benchmark set scored against the corpus",
    "dedup_ensemble_agreement": "composes the exact embedding near-dup baseline",
    "emb_binary_quantize_recall": "5-query Hamming scorer plus its full-precision top-k leg",
    "emb_hard_negative_mining": "5-anchor frame scored against the corpus",
    "emb_matryoshka_recall": "5-row query frame (vec_id < literal) against the corpus",
    "join_cross_region_segment": "5-row region x enum-bounded segment frame, a cross join by definition",
    "join_types_combined": "its cross piece is the join_cross_region_segment frame",
    "retrieval_hybrid_rrf": "semantic leg: 4-row literal query set against the corpus",
    "retrieval_mmr_rerank": "3-anchor top-20 pools; the pair matrix is k^2 per anchor",
    "retrieval_rbo_lex_vs_sem": "BM25 query literals and cosine anchors against the corpus",
    "retrieval_rerank_features": "inherits retrieval_hybrid_rrf's semantic leg behind a persist",
    "sim_adc_topk_pq": "vec_id < _N_Q query frame scored against the PQ codes",
    "sim_cosine_neardup_exact": "exact all-pairs baseline; sim_cosine_neardup_lsh is the scaling path",
    "sim_cosine_topk_bruteforce": "_N_QUERIES-row query frame against the corpus; ANN is the scaling path",
    "sim_knn_label_vote": "20-row query frame (vec_id < 20) against the labelled corpus",
}


def _side_state(spark) -> dict[str, set]:
    tables = spark.catalog.listTables()
    return {
        "temp dirs": {n for n in os.listdir(tempfile.gettempdir()) if n.startswith("lds_")},
        "temp views": {t.name for t in tables if t.isTemporary},
        "tables": {t.name for t in tables if not t.isTemporary},
        "streams": {q.id for q in spark.streams.active},
        "cached relations": set()
        if spark._jsparkSession.sharedState().cacheManager().isEmpty()
        else {"CacheManager not empty"},
    }


@pytest.fixture(scope="module", autouse=True)
def _warm_catalog(spark, sf_dir):
    spark.catalog.clearCache()  # so an earlier module's persist cannot mask a leak
    catalog.load_tables(spark, sf_dir)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    before = _side_state(spark)
    first_job = next_job_id(spark)
    result = QUERIES[name](spark, sf_dir)
    jobs = next_job_id(spark) - first_job
    oracle = duck.sql(ORACLES[name])
    assert_df_equal(result, oracle)
    listed = name in BRUTE_FORCE_JOINS
    assert (assert_plan_scales(result) > 0) == listed, (
        "stale BRUTE_FORCE_JOINS entry" if listed else "data-sided nested-loop join"
    )
    eager = name in EAGER
    assert (jobs > 0) == eager, (
        "stale tools/eager_builders.txt entry: built with 0 Spark jobs"
        if eager
        else f"unlisted eager builder: {jobs} Spark jobs at build time"
    )
    cache.release_all()
    left = {kind: sorted(now - before[kind]) for kind, now in _side_state(spark).items() if now - before[kind]}
    assert not left, f"left behind after release: {left}"


@pytest.mark.parametrize(
    "confs",
    [
        {"spark.sql.shuffle.partitions": "1"},
        {"spark.sql.adaptive.enabled": "false", "spark.sql.autoBroadcastJoinThreshold": "-1"},
    ],
    ids=["one_shuffle_partition", "no_aqe_no_broadcast"],
)
def test_top50_config_independent(confs, spark, duck, sf_dir):
    failed = {}
    with confs_set(spark, confs):
        for name in list(ordered_queries())[:50]:
            try:
                assert_df_equal(QUERIES[name](spark, sf_dir), duck.sql(ORACLES[name]))
            except AssertionError as exc:
                failed[name] = str(exc)
            finally:
                cache.release_all()
    assert not failed, "\n".join(f"{n}: {why}" for n, why in failed.items())


def test_every_query_has_oracle():
    assert set(QUERIES) == set(ORACLES)


def test_engine_never_imports_duckdb():
    """DuckDB is the oracle engine: a builder that computed through it
    could agree with its oracle by construction."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "lithops_dataframe_spark"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and not node.level:
                mods = [node.module or ""]
            else:
                continue
            if any(m.split(".")[0] == "duckdb" for m in mods):
                found.append(f"{path.relative_to(pkg.parent)}:{node.lineno}")
    assert not found, f"the engine imports duckdb: {found}"


def test_eager_list_names_registered():
    unknown = EAGER - set(QUERIES)
    assert not unknown, f"tools/eager_builders.txt names unknown queries: {sorted(unknown)}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(e.oracle_sql()) <= set(e.queries())
