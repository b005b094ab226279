"""SparkSession factory.

One place to own the engine configuration so every entry point (tests,
bench, driver contract) runs the same tuned session.

Scale notes (100 TB design):
- AQE on with coalescing + skew-join: at cluster scale the static
  ``shuffle.partitions`` is a ceiling, AQE right-sizes the actual
  post-shuffle partitioning at runtime and splits skewed partitions.
- ``autoBroadcastJoinThreshold`` left at default (10 MB): at bench SFs
  every dimension is under it, so plans broadcast without hints; explicit
  ``F.broadcast`` hints are reserved for frames whose size is bounded by
  construction (region/nation, one-row scalars, hyperplanes, centroids) —
  SF-scaling tables are never hinted, because a hint overrides AQE's
  runtime size check and would force-broadcast a multi-TB customer table
  at 100 TB.
- Arrow enabled for every pandas-UDF exchange (the only Python↔JVM
  data path we allow in hot paths).
- Timezone pinned to UTC so timestamp semantics match the DuckDB oracle.
- Shuffled hash join comes only from AQE's runtime-size-guarded rewrite
  (64 MB per build partition); the estimate-driven static SHJ path stays
  off (Spark's default ``preferSortMergeJoin=true``).

Only deployment settings read the environment: master
(``SPARK_GRAFT_MASTER``), CPUs (``SPARK_GRAFT_CPUS``), driver memory
(``SPARK_GRAFT_DRIVER_MEM``), warehouse (``SPARK_GRAFT_WAREHOUSE``) and the
fixture directory (``SPARK_GRAFT_SF_DIR``). Engine tuning is fixed here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "lithops_dataframe_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Create (or reuse) the tuned SparkSession.

    In local mode there is a single JVM; ``spark.driver.memory`` is the only
    memory knob. On a real cluster the same config applies per-executor and
    AQE handles partition right-sizing.
    """
    cpus = _cpus()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffled hash join only through the AQE rewrite, which fires when
        # every post-shuffle build partition is under 64 MB at RUNTIME. The
        # static planner's SHJ path (preferSortMergeJoin=false) stays at
        # Spark's default off: it sizes non-spillable builds from
        # pre-execution estimates, so a mis-estimate can OOM an executor,
        # and cold-process A/B showed no win for it (plans/r13/).
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64MB")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 captures a user-code stack trace on EVERY DataFrame API
        # call to decorate error messages; that is one extra py4j round-trip
        # plus a Python stack walk per call — measured ~0.6 s of pure driver
        # overhead on expression-heavy plans (LSH bucketing builds hundreds
        # of Column objects). Error messages stay correct, just un-decorated.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Generated-class compile cache: the default 100 entries is smaller
        # than one pass over the query library (22 TPC-H plans alone evict
        # everything), so every expression-heavy query recompiled its
        # operators from scratch — seconds of Janino time per query. Bigger
        # cache + stable class names (no codegen-stage id in the source
        # text) let identical operator shapes share one compiled class
        # across queries.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        # bucketed-table storage (bucketBy saveAsTable) — out of the repo tree
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/lds_warehouse"))
        .config("spark.sql.parquet.filterPushdown", "true")
        # Events fixtures have carried TIMESTAMP(NANOS) in some generations
        # (current ones are micros NTZ); keep the legacy conf so either
        # vintage reads — the catalog normalizes both (normalize_events_ts).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ANSI ON — the Spark 4 default and what the driver's own session
        # runs. Round-5 lesson: ANSI-off here let an int32 overflow ship
        # "green" locally and crash on the driver; any permissive-cast or
        # null-on-error behavior a query needs must be explicit
        # (try_cast / try_divide / try_element_at), never a session conf
        # the driver won't have.
        .config("spark.sql.ansi.enabled", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Silence WindowExec's "No Partition Defined … single partition"
    # warning: every partition-less window in this engine is a two-phase
    # CARRY frame over ~#partitions rows (global_row_number's offsets,
    # the prefix-sum totals in evaluation.py) — bounded by design — but
    # it fired on every bench/sweep run, burying any REAL one-task-window
    # regression (r9 verdict task 5). The detector for unbounded ones is
    # tests/test_oracle_queries.py: every registered query's executed
    # plan must feed each partition-less Window an aggregated or
    # literal-bounded input (tests/conftest.py::assert_plan_scales).
    try:
        jvm = spark._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 deployments just keep the warning
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
