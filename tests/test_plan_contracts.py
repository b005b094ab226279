"""Plan contracts: the executed (AQE-final) plan of each case on the sf0.001
fixture is pinned as (exchanges, reused exchanges, broadcasts, scanned
rows), counted with the benchmark's own plan walk
(``perfbench.tracer.plan_counts``). The counts pin the shapes performance
depends on, so a lost reuse or broadcast, or an added exchange, fails here:

- The five set-similarity pair miners run as operators on ``documents``:
  one pinned candidate-dedup exchange each (``_dedup_pinned``), the
  persisted prefix postings feeding both sides of the prefix self-join,
  and broadcast verification joins.
- Five ``*_combined`` driver-slot queries are built from their standalone
  twins plus a tag and a reduce step. Composing twins naively can add work
  the inline form never had: ``red_prod`` as the prod leg cross-joins an
  extra row count (two more exchanges, a broadcast and a lineitem scan),
  and summing ``setop_union_all``'s per-kind counts adds an exchange.
  ``win_ranking_combined`` has no twins; its window specs share one
  partitioning, so its plan has one exchange.
- ``text_hashed_tfidf`` reuses its (doc_id, bucket) term-frequency
  exchange for the idf side, so the corpus is tokenized once.
- ``sim_cosine_topk_ivf`` and ``sim_cosine_topk_lsh`` probe the corpus
  through a broadcast of the small query side, with no corpus-side
  exchange (IVF's broadcast is the planner's size-based choice, not a
  hint).
- The five TPC-H queries the benchmark's ``tpch-sf0.01`` workload runs.
- ``eval_auc_by_source`` and ``pack_length_buckets`` run one range
  exchange per ``prefix_sums`` call: its range-partitioned frame is
  persisted, so the running-sum and carry branches both read the cache
  (two in-memory scans, no ``documents`` re-scan, no second range
  exchange).

Every case starts from an empty cache: a frame another test left
materialized reports exact sizes to the planner, which can change its
join choices and therefore the counts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lithops_dataframe_spark import cache
from lithops_dataframe_spark.catalog import load_table
from lithops_dataframe_spark.operators import dedup as D
from lithops_dataframe_spark.plans import QUERIES
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

#: case -> (exchanges, reused_exchanges, broadcasts, scan_rows)
EXPECTED = {
    "containment_pairs": (7, 0, 4, 2500),
    "jaccard_prefix_filter_pairs": (4, 0, 3, 33892),
    "minhash_incremental_dedup": (7, 0, 4, 2500),
    "minhash_lsh_pairs": (4, 0, 3, 2000),
    "ngram_jaccard_pairs": (4, 0, 3, 2000),
    "agg_shapes_combined": (8, 0, 0, 19500),
    "join_types_combined": (15, 0, 5, 11465),
    "red_stats_combined": (13, 0, 6, 42000),
    "scalar_funcs_combined": (0, 0, 0, 8200),
    "setop_combined": (10, 1, 1, 3470),
    "win_ranking_combined": (1, 0, 0, 1500),
    "text_hashed_tfidf": (7, 1, 2, 1000),
    "sim_cosine_topk_ivf": (3, 1, 2, 1001),
    "sim_cosine_topk_lsh": (9, 1, 4, 2001),
    "q01_pricing_summary": (1, 0, 0, 6000),
    "q03_shipping_priority": (3, 0, 2, 7650),
    "q05_revenue_by_nation": (6, 0, 5, 7690),
    "q13_customer_order_distribution": (3, 0, 1, 1650),
    "q18_large_volume_customers": (4, 0, 3, 13650),
    "eval_auc_by_source": (5, 0, 1, 996),
    "pack_length_buckets": (5, 0, 1, 1000),
}


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_plan_counts(spark, name):
    spark.catalog.clearCache()
    with cache.scope():
        if name in MINERS:
            df = MINERS[name](load_table(spark, SF_SMOKE, "documents"))
        else:
            df = QUERIES[name](spark, SF_SMOKE)
        assert df.collect()  # every case has rows; the fixture plants near-dups
        c = plan_counts(df._jdf.queryExecution().executedPlan())
    got = (c["exchanges"], c["reused_exchanges"], c["broadcasts"], c["scan_rows"])
    assert got == EXPECTED[name]
