"""Shared operator utilities."""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame

#: Parquet scan split size mirror of spark.sql.files.maxPartitionBytes.
_MAX_PARTITION_BYTES = 128 * 1024 * 1024


def _estimated_splits(df: DataFrame) -> int | None:
    """Estimate how many scan splits the source will produce, cheaply.

    ``df.inputFiles()`` walks the analyzed plan only; for local ``file:``
    inputs the split count is ceil(size / maxPartitionBytes) per file
    (Spark splits parquet by byte range). Returns None when the lineage
    is not a plain file scan (shuffles/joins upstream already set
    parallelism) or files are remote.
    """
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    splits = 0
    for f in files:
        if f.startswith("file:"):
            path = f[len("file:") :]
            try:
                size = os.path.getsize(path)
            except OSError:
                return None
            splits += max(1, -(-size // _MAX_PARTITION_BYTES))
        else:
            # Remote object store: assume ≥1 split per file; with many
            # files we are already parallel enough to skip the shuffle.
            splits += 1
    return splits


# --- literal frames without RDD parallelize (r13, guide §4/§1.2) ---
#
# ``spark.createDataFrame(small_python_list)`` builds its plan over a
# parallelized RDD: EVERY materialization (and every broadcast build that
# embeds it) schedules a wave of defaultParallelism pickled Python tasks.
# Measured at local[32], sf-independent: ~0.27 s per materialization for
# a one-row hyperplane frame, ~0.21 s for a 32-row tuple frame — pure
# scheduling overhead (the empty case measured 6-12 s in r12, fixed by
# empty_frame). The SQL-literal forms below plan as OneRowRelation /
# LocalRelation: ZERO tasks, ~0.02-0.16 s, and float literals rendered
# with repr() + the 'D' (DOUBLE) suffix round-trip bit-identically
# (verified: struct.pack equality against the createDataFrame path).


def double_sql(x: float) -> str:
    """A DOUBLE literal: repr() + the D suffix for finite values; NaN and
    ±Inf have no literal syntax and render as a string cast."""
    if math.isfinite(x):
        return repr(x) + "D"
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"


def quote_ident(name: str) -> str:
    """Backtick-quote an identifier (any string, reserved words too)."""
    return "`" + name.replace("`", "``") + "`"


def sql_scalar_literal(v) -> str:
    """Render a Python scalar as a Spark SQL literal (None/bool/int/
    float/str). Floats get the D suffix — an undecorated 0.1 parses as
    DECIMAL and casts to a DIFFERENT double."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return f"{v}L"
    if isinstance(v, float):
        return double_sql(v)
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, (bytes, bytearray)):
        return f"X'{bytes(v).hex()}'"
    raise TypeError(f"unsupported literal type: {type(v)}")


def doubles_sql(vals) -> str:
    """array(x1D, x2D, ...) — a double-array literal."""
    return "array(" + ",".join(double_sql(float(v)) for v in vals) + ")"


def matrix_sql(mat) -> str:
    """array(array(...), ...) — a double-matrix literal."""
    return "array(" + ",".join(doubles_sql(row) for row in mat) + ")"


def one_row_frame(spark, **named_sql: str) -> DataFrame:
    """One-row DataFrame of SQL literal expressions over OneRowRelation
    (``SELECT <expr> AS <name>``): zero tasks per materialization."""
    cols = ", ".join(f"{sql} AS {quote_ident(name)}" for name, sql in named_sql.items())
    return spark.sql(f"SELECT {cols}")


def values_frame(spark, rows, schema) -> DataFrame:
    """Small literal DataFrame via ``VALUES`` (LocalRelation) with every
    column cast to the DDL ``schema`` types — the zero-task drop-in for
    ``spark.createDataFrame(rows, schema)`` on driver-computed results
    (bounded: literal SQL text; keep it to ≲ thousands of rows).

    Python ints render as BIGINT literals, so every int must lie in
    [-2**63, 2**63 - 1]. Top-level field names are backtick-quoted and
    may be any string, reserved words included; nested struct field names
    go through ``simpleString()`` unquoted and must be plain identifiers."""
    from pyspark.sql.types import _parse_datatype_string

    sch = schema if not isinstance(schema, str) else _parse_datatype_string(schema)
    if not rows:
        return empty_frame(spark, sch)
    rendered = ",".join(
        "(" + ",".join(sql_scalar_literal(v) for v in row) + ")" for row in rows
    )
    casts = ", ".join(
        f"CAST(c{i} AS {f.dataType.simpleString()}) AS {quote_ident(f.name)}"
        for i, f in enumerate(sch.fields)
    )
    anon = ", ".join(f"c{i}" for i in range(len(sch.fields)))
    return spark.sql(f"SELECT {casts} FROM VALUES {rendered} AS __v({anon})")


def estimated_input_bytes(df: DataFrame) -> int | None:
    """Total bytes of the plan's file-scan inputs, from the analysis-phase
    file listing (no job). None when the lineage is not a plain local
    file scan — callers choose their own conservative default then."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        if not f.startswith("file:"):
            return None
        try:
            total += os.path.getsize(f[len("file:") :])
        except OSError:
            return None
    return total


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition up if the input scan has fewer splits than cores.

    Small fixture tables arrive as single-file parquet → 1 input split →
    compute-heavy narrow maps (minhash signatures, simhash votes,
    hyperplane dots) run on ONE task. At 100 TB inputs already have
    thousands of splits and this is a no-op; locally it unlocks the other
    31 cores for a ~kB shuffle.

    The split count is estimated from the input file listing (a pure
    analysis-phase call) instead of ``df.rdd.getNumPartitions()`` — the
    RDD conversion forces full physical planning and costs ~0.25 s of
    driver time per call, which dominates short interactive queries.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    splits = _estimated_splits(df)
    if splits is not None and splits < target:
        return df.repartition(target)
    return df


def empty_frame(spark, schema) -> DataFrame:
    """A zero-row DataFrame with ``schema``, built over ``emptyRDD()``
    instead of ``spark.createDataFrame([], schema)``.

    The empty-LIST path parallelizes into a defaultParallelism-partition
    RDD whose every action schedules a full wave of empty pickled tasks —
    measured 6-12 s per materialization at local[32] (r12). An emptyRDD
    has ZERO partitions: actions schedule no tasks (~0.1 s, same as the
    r12 range(0) form) and — unlike the r12 ``lit(NULL) cast`` projection,
    which silently widened every field to nullable (ADVICE r12) — the
    schema's nullability flags are preserved EXACTLY. Used on the hot
    streaming paths (first-epoch index reads, empty micro-batch staging)
    where the empty frame is materialized once per epoch; parquet writes
    of it still emit one zero-row part file (verified r13)."""
    sch = schema if not isinstance(schema, str) else None
    if sch is None:
        from pyspark.sql.types import _parse_datatype_string

        sch = _parse_datatype_string(schema)
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), sch)


# --- non-finite double policy (r12 edge class) ---
#
# Real event streams carry NaN/±Inf (sensor glitches, upstream division
# artifacts), and the engines disagree on them three ways: Spark's ANSI
# cents-exact casts CRASH (cast(NaN/Inf AS BIGINT) → ARITHMETIC_OVERFLOW),
# DuckDB's own BIGINT cast crashes too, and where nothing crashes the
# comparison/ordering semantics fork (Spark: NaN > x is TRUE, NaN sorts
# largest and equals itself in group keys; DuckDB: IEEE comparisons, own
# ORDER BY rules). The uniform policy is the one production pipelines
# use: a NON-FINITE MEASUREMENT IS A MISSING MEASUREMENT — mapped to NULL
# at first touch, so every downstream statistic flows through the
# NULL-skip machinery both engines agree on (and which the r6-r11 edge
# rows already pin). `FINITE_VALUE_SQL` is the DuckDB twin oracles
# inline; `isfinite()` is false for NaN and ±Inf on both sides.

FINITE_VALUE_SQL = "CASE WHEN isfinite(value) THEN value END"


def finite_or_null(col):
    """``col`` if finite, NULL for NaN/±Inf — the Spark half of the
    non-finite-is-missing policy (see module comment above). Narrow
    per-row expression, JVM-side, codegen-friendly."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    c = col if isinstance(col, Column) else F.col(col)
    return F.when(~F.isnan(c) & (F.abs(c) != F.lit(float("inf"))), c)


def prefix_sums(df: DataFrame, order_cols, sums: dict, *, group_cols=()) -> DataFrame:
    """Exact inclusive running sums in ``order_cols`` order within each
    ``group_cols`` group, WITHOUT a single-task window — the ordered
    sibling of a chunk → combine → aggregate reduction.

    ``sums`` maps each output column to a numeric expression over ``df``
    (``{"rn": F.lit(1)}`` is the row number); the result is ``df`` plus
    one column per key, equal to ``sum(expr) OVER (PARTITION BY
    group_cols ORDER BY order_cols ROWS UNBOUNDED PRECEDING)`` — NULL
    while every value so far in the group is NULL. ``order_cols`` are
    names or Columns (``F.col("t").desc()``) and must be a total order
    within a group (include a unique tiebreak column) or the sums are
    only rank-stable, not row-stable.

    1. ``repartitionByRange`` on ``group_cols + order_cols`` (partition i
       holds a contiguous key range ≤ partition i+1's), persisted through
       :func:`cache.persist_tracked`: both branches below read ONE
       materialization, so they see the same ``spark_partition_id``
       layout. Two unreused range exchanges would draw two
       RangePartitioner samples and patch local sums with the other
       layout's carry;
    2. per-(partition, group) running sums (parallel across partitions);
    3. per-(partition, group) totals, summed over the group's earlier
       partitions into a tiny carry frame that is broadcast back
       (null-safe on the group keys).

    The persisted frame stays in Spark's cache until it is released:
    registry builders release it when the next builder starts; any other
    caller wraps the call and the actions on its result in
    :func:`cache.scope` (or calls :func:`cache.release_all`).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from lithops_dataframe_spark import cache

    order = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    part = cache.persist_tracked(
        df.repartitionByRange(*map(F.col, group_cols), *order).withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    keys = ["__pid", *group_cols]
    wloc = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part.select(
        "*", *(F.sum(e).over(wloc).alias(f"__loc_{k}") for k, e in sums.items())
    )
    wcar = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    gkeys = [f"__grp{i}" for i in range(len(group_cols))]
    carry = (
        part.groupBy(*keys)
        .agg(*(F.sum(e).alias(f"__tot_{k}") for k, e in sums.items()))
        .select(
            F.col("__pid").alias("__cpid"),
            *(F.col(g).alias(a) for g, a in zip(group_cols, gkeys)),
            *(F.sum(f"__tot_{k}").over(wcar).alias(f"__car_{k}") for k in sums),
        )
    )
    on = F.col("__pid") == F.col("__cpid")
    for g, a in zip(group_cols, gkeys):
        on = on & F.col(g).eqNullSafe(F.col(a))
    out = local.join(F.broadcast(carry), on)
    for k in sums:
        loc, car = F.col(f"__loc_{k}"), F.col(f"__car_{k}")
        out = out.withColumn(k, F.coalesce(loc + car, loc, car))
    return out.drop(
        "__pid",
        "__cpid",
        *gkeys,
        *(f"__loc_{k}" for k in sums),
        *(f"__car_{k}" for k in sums),
    )
