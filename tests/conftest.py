"""Shared pytest fixtures: one SparkSession per test session, DuckDB oracle
connections per scale factor, and the differential comparator."""

from __future__ import annotations

import itertools
import math
import os

import duckdb
import pytest

from lithops_dataframe_spark.catalog import TABLES, table_path
from lithops_dataframe_spark.session import get_spark

SF_SMOKE = os.environ.get("LDS_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("lds-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


def make_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # DuckDB 1.0.0's MULTITHREADED window operator nondeterministically
    # splits a tiny window partition across hash groups (two rows can both
    # get row_number()=1, ~25% of runs on a 16-row input) — the root cause
    # of the VERDICT-r8 "order-dependent" battery flake on
    # test_edge_matches_oracle[events_ohlc_bars]. Single-threaded DuckDB
    # computes the same (correct) answers deterministically; the driver's
    # own multithreaded connection stays exercised via tools/driver_sim.py.
    con.execute("SET threads=1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
    return con


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = make_duck(sf_dir)
    yield con
    con.close()


@pytest.fixture
def scoped_cache():
    """Run a test inside ``cache.scope()``: operators such as
    ``prefix_sums`` persist a frame that a caller outside a registry
    builder must release."""
    from lithops_dataframe_spark import cache

    with cache.scope():
        yield


def next_job_id(spark) -> int:
    """The id the next Spark job will get: the jobs launched between two
    reads are their difference."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def running_sums(rows, group, order, value) -> dict:
    """Pure-Python reference for ``operators.util.prefix_sums``: each row
    of ``rows`` (hashable, distinct) mapped to the inclusive running sum
    of ``value(row)`` in ``order(row)`` order within ``group(row)`` —
    None while every value so far in the group is None."""

    def add(a, b):
        return a if b is None else b if a is None else a + b

    out = {}
    ordered = sorted(rows, key=lambda r: (repr(group(r)), order(r)))
    for _, grp in itertools.groupby(ordered, key=group):
        grp = list(grp)
        out.update(zip(grp, itertools.accumulate(map(value, grp), add)))
    return out


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return round(v, 9)
    return v


def assert_df_equal(spark_df, duck_rel, *, check_order: bool = False):
    """Order-insensitive (by default) comparison of a Spark DataFrame against
    a DuckDB relation: same column names, same row multiset."""
    sp_cols = list(spark_df.columns)
    dk_cols = [d[0] for d in duck_rel.description]
    assert sorted(sp_cols) == sorted(dk_cols), f"columns differ: {sp_cols} vs {dk_cols}"
    sp_rows = [tuple(_norm_cell(row[c]) for c in sorted(sp_cols)) for row in spark_df.collect()]
    idx = {c: i for i, c in enumerate(dk_cols)}
    dk_rows = [tuple(_norm_cell(r[idx[c]]) for c in sorted(dk_cols)) for r in duck_rel.fetchall()]
    if not check_order:
        sp_rows = sorted(sp_rows, key=lambda t: tuple(str(x) for x in t))
        dk_rows = sorted(dk_rows, key=lambda t: tuple(str(x) for x in t))
    assert len(sp_rows) == len(dk_rows), f"row counts differ: {len(sp_rows)} vs {len(dk_rows)}"
    for i, (a, b) in enumerate(zip(sp_rows, dk_rows)):
        assert a == b, f"row {i} differs:\n  spark: {a}\n  duckdb: {b}"


def plan_nodes(plan):
    """Yield every node of an executed plan, descending as
    ``perfbench.tracer.plan_counts`` does (AdaptiveSparkPlan's final plan,
    query stages, subqueries) and also into what that walk stops at: the
    exchange a ReusedExchange reuses and the cached plan behind an
    InMemoryTableScan."""
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        stack.extend(_plan_inputs(node))


def _plan_inputs(node) -> list:
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name.endswith("QueryStage"):
        return [node.plan()]
    if name == "ReusedExchange":
        return [node.child()]
    if name == "InMemoryTableScan":
        return [node.relation().cachedPlan()]
    if name == "ReusedSubquery":
        return []
    out = []
    for seq in (node.children(), node.subqueries()):
        it = seq.iterator()
        while it.hasNext():
            out.append(it.next())
    return out


_BOUNDED_LEAVES = ("Scan OneRowRelation", "LocalTableScan", "Range")
_AGGREGATES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")


def is_bounded(node) -> bool:
    """True if a subtree's row count is fixed by construction: every path
    down from ``node`` passes a grouping-free aggregate (one row whatever
    it reads) or ends at a literal leaf (OneRowRelation, LocalTableScan,
    Range)."""
    name = node.nodeName()
    if name in _AGGREGATES and node.groupingExpressions().isEmpty():
        return True
    inputs = _plan_inputs(node)
    return all(map(is_bounded, inputs)) if inputs else name in _BOUNDED_LEAVES


def assert_plan_scales(df) -> int:
    """Count the nested-loop joins in ``df``'s executed plan whose build
    side is not bounded by construction, after asserting the plan's
    scale rules: no CartesianProduct, and every partition-less Window
    reads a bounded or aggregated input (one task sorts that input)."""
    n = 0
    for node in plan_nodes(df._jdf.queryExecution().executedPlan()):
        name = node.nodeName()
        assert name != "CartesianProduct", "CartesianProduct in the executed plan"
        if name == "BroadcastNestedLoopJoin":
            build = node.left() if node.buildSide().toString() == "BuildLeft" else node.right()
            n += not is_bounded(build)
        elif name == "Window" and node.partitionSpec().isEmpty():
            child = node.child()
            assert is_bounded(child) or any(
                m.nodeName() in _AGGREGATES for m in plan_nodes(child)
            ), "partition-less Window over an unaggregated input"
    return n
