"""Fixture/table loaders for the driver's star schema.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet each under an
``sf_dir`` such as ``/root/testdata/sf0.01``.

Scale notes: parquet scans get column pruning + predicate pushdown from
Catalyst for free; loaders never collect or cache data eagerly.

Relation cache: every ``spark.read.parquet`` resolves the data source
and infers the file's schema with its own job. ``load_table`` does that
once per session and then returns a new instance of the resolved
relation: no job, fresh attribute ids (self-joins stay well-formed) and
the plan node an uncached read gives. The key is the absolute path, the
file's ``st_mtime_ns`` and ``st_size`` (a file rewritten in place is
resolved again) and the session's schema-affecting parquet confs
(``_SCHEMA_CONFS``). A path that is not a local regular file — a remote
URI such as ``s3a://`` or a directory of part files, whose mtime misses
in-place rewrites — is read without the cache. At 100 TB the
same loaders point at partitioned parquet/object-store layouts — Spark's
Hadoop FS connectors (s3a://, gs://, abfss://) replace the local paths
transparently (reference analog: the IBM-COS object URL in
``/root/reference/dataframe/io.py:80-85``).
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions whose row count is CONSTANT in SF — the only tables the query
# library ever broadcast-hints. supplier/customer/part scale linearly with
# SF and are deliberately excluded: their joins are AQE-sized (broadcast
# while they fit the threshold, shuffle at 100 TB).
BROADCAST_DIMS = ("region", "nation")


# Session confs that change the schema Spark infers from a parquet file.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# session -> {(abs path, st_mtime_ns, st_size, conf values) -> the
# resolved relation's JVM plan}. Two foreachBatch threads racing on one
# key cost at most a duplicate resolution.
RELATIONS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS)
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size, confs)
    plans = RELATIONS.setdefault(spark, {})
    plan = plans.get(key)
    if plan is None:
        df = spark.read.parquet(path)
        plans[key] = df._jdf.queryExecution().analyzed()
        return df
    # a renaming projection (``toDF``) would also give fresh ids, but it
    # changes plans: it cost join_asof_nearest_mark a reused exchange
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, plan.newInstance())
    return DataFrame(jdf, spark)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """The events-table contract normalizer (batch AND streaming inputs):

    - ts: parquet TIMESTAMP(NANOS) → read as long nanos
      (spark.sql.legacy.parquet.nanosAsLong) and truncate to micros,
      matching DuckDB's ns→µs truncation in the oracle.
    - value: non-finite measurement policy (r12 edge class) — NaN/±Inf
      map to NULL (missing measurement) at first touch. Real streams
      carry them (sensor glitches, upstream division artifacts) and the
      engines disagree structurally: ANSI cents-exact casts crash on
      BOTH engines, and where nothing crashes the comparison/ordering
      semantics fork (Spark NaN > x is TRUE and NaN sorts largest;
      DuckDB follows IEEE in comparisons). NULL routes every downstream
      statistic through the NULL-skip machinery both engines agree on.
      The oracle twin is the shadowing CTE every events oracle gets in
      plans/registry.py::register.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from lithops_dataframe_spark.operators.util import finite_or_null

    if isinstance(df.schema["ts"].dataType, T.LongType):
        # integer `div`, not floor(x/1000): double division loses ulps at
        # ~1.7e18 ns and shifts some timestamps by 1 µs vs the oracle.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("value", finite_or_null("value"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet carries TIMESTAMP(NANOS); Spark refuses it unless the
        # legacy nanos-as-long conf is on. Set it here (runtime-settable SQL
        # conf) so ANY SparkSession — including the driver's, which doesn't use
        # our session builder — can read the table.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, table_path(sf_dir, name))
    if name == "events":
        df = normalize_events_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Register each table as a temp view so ``spark.sql`` works on them."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
