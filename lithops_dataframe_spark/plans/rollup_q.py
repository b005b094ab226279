"""Continuous-aggregate query: materialize the daily rollup, then answer
via rollup ⊕ raw-tail merge — the result must be IDENTICAL to the oracle's
full recompute over raw events (the mergeable-partials contract).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from lithops_dataframe_spark import cache
from lithops_dataframe_spark.catalog import load_table
from lithops_dataframe_spark.operators import rollup as R
from lithops_dataframe_spark.plans.registry import register

#: split point: history (materialized) vs tail (raw scan). Events span
#: 2024-01-01 .. 2024-01-30.
CUTOFF = "2024-01-25"

_ROLLUP_ORACLE = """
    SELECT time_bucket(INTERVAL '1 day', ts) AS day,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value,
           ROUND(MIN(value), 4) AS min_value,
           ROUND(MAX(value), 4) AS max_value,
           ROUND(SUM(value) / COUNT(*), 6) AS avg_value
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
"""


@register("rollup_continuous_aggregate", oracle=_ROLLUP_ORACLE)
def rollup_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    path = os.path.join(cache.scratch("rollup"), "rollup")
    R.materialize_rollup(events, path)
    return R.query_with_tail(spark, path, events, CUTOFF)
