"""Plan contracts for the set-similarity pair miners.

Each miner's executed (AQE-final) plan on the sf0.001 ``documents``
fixture has a fixed number of exchanges and broadcasts, counted with the
benchmark's own plan walk (``perfbench.tracer.plan_counts``). The counts
pin the shapes their performance depends on: one pinned candidate-dedup
exchange per miner (``_dedup_pinned``), the persisted prefix postings
feeding both sides of the prefix self-join, and broadcast verification
joins. Re-adding a dedup exchange or losing the prefix persist changes a
count and fails here.

Every case starts from an empty cache: a shingle base another test left
materialized reports exact sizes to the planner, which can change its
join choices and therefore the counts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lithops_dataframe_spark import cache
from lithops_dataframe_spark.catalog import load_table
from lithops_dataframe_spark.operators import dedup as D
from perfbench.tracer import plan_counts

from tests.conftest import SF_SMOKE

MINERS = {
    "minhash_lsh_pairs": lambda docs: D.minhash_lsh_pairs(
        docs, "text", "doc_id", shingle_n=2, bands=4, threshold=0.6
    ),
    "jaccard_prefix_filter_pairs": lambda docs: D.jaccard_prefix_filter_pairs(
        docs, "text", "doc_id", shingle_n=3, threshold=0.4
    ),
    "containment_pairs": lambda docs: D.containment_pairs(
        docs, "text", "doc_id", shingle_n=3, threshold=0.6
    ),
    "ngram_jaccard_pairs": lambda docs: D.ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_n=3, threshold=0.3
    ),
    "minhash_incremental_dedup": lambda docs: D.minhash_incremental_dedup(
        docs.withColumn("is_new", F.col("doc_id") % 10 == 0),
        "text",
        "doc_id",
        "is_new",
        shingle_n=2,
        bands=4,
        threshold=0.6,
    ),
}

#: miner -> (exchanges, broadcasts) of the executed plan
EXPECTED = {
    "minhash_lsh_pairs": (4, 3),
    "jaccard_prefix_filter_pairs": (4, 3),
    "containment_pairs": (7, 4),
    "ngram_jaccard_pairs": (4, 3),
    "minhash_incremental_dedup": (7, 4),
}


@pytest.mark.parametrize("miner", sorted(MINERS))
def test_miner_plan_counts(spark, miner):
    spark.catalog.clearCache()
    with cache.scope():
        df = MINERS[miner](load_table(spark, SF_SMOKE, "documents"))
        assert df.collect()  # the fixture plants near-dups
        counts = plan_counts(df._jdf.queryExecution().executedPlan())
    assert (counts["exchanges"], counts["broadcasts"]) == EXPECTED[miner]
