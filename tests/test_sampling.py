"""PPS systematic-sampling invariants: exact pick budget, layout
invariance of the distributed prefix sum, multi-pick heavy rows."""

from __future__ import annotations

import pandas as pd
import pytest

from lithops_dataframe_spark.operators.sampling import systematic_weighted_sample


pytestmark = pytest.mark.usefixtures("scoped_cache")


def _mk(spark, weights):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(weights)), "w": weights})
    )


def test_pick_budget_exact(spark):
    weights = [(i * 37) % 100 + 1 for i in range(500)]
    total = sum(weights)
    k = 50
    step = max(1, total // k)
    out = systematic_weighted_sample(_mk(spark, weights), "w", "doc_id", k=k).collect()
    # every multiple of step in [0, W) lands in exactly one row's interval
    assert sum(r["n_picks"] for r in out) == (total + step - 1) // step


def test_layout_invariance(spark):
    """THE distributed-prefix-sum property: the result is identical under
    any input partitioning — partition carries must compose exactly."""
    weights = [(i * 13) % 50 + 1 for i in range(300)]
    df = _mk(spark, weights)
    a = sorted(map(tuple, systematic_weighted_sample(df, "w", "doc_id", k=40).collect()))
    b = sorted(
        map(
            tuple,
            systematic_weighted_sample(
                df.repartition(17), "w", "doc_id", k=40
            ).collect(),
        )
    )
    c = sorted(
        map(
            tuple,
            systematic_weighted_sample(
                df.coalesce(1), "w", "doc_id", k=40
            ).collect(),
        )
    )
    assert a == b == c


def test_heavy_row_multi_pick_and_zero_weight(spark):
    weights = [1] * 50 + [500] + [0] * 10  # one heavy row, some empties
    out = {
        r["id"]: r["n_picks"]
        for r in systematic_weighted_sample(
            _mk(spark, weights), "w", "doc_id", k=25
        ).collect()
    }
    # step = 550 // 25 = 22; the heavy row covers 500 units -> >= 22 picks
    assert out[50] >= 500 // 22
    assert all(i not in out for i in range(51, 61)), "zero-weight row picked"
