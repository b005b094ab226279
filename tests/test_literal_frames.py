"""SQL-literal frames (``values_frame`` / ``one_row_frame``) round-trip
non-finite doubles bit-for-bit against ``createDataFrame`` and accept
reserved words and other names that need quoting."""

from __future__ import annotations

import struct

from lithops_dataframe_spark.operators.util import doubles_sql, one_row_frame, sql_scalar_literal, values_frame

NAN, INF = float("nan"), float("inf")


def _bits(rows):
    def cell(v):
        if isinstance(v, float):
            return struct.pack(">d", v)
        if isinstance(v, list):
            return tuple(cell(x) for x in v)
        return v

    return [tuple(cell(v) for v in r) for r in rows]


def test_values_frame_non_finite_round_trip(spark):
    schema = "x double, y double, n bigint"
    rows = [(NAN, INF, 2**63 - 1), (-INF, -0.0, -(2**63)), (0.1, 1e308, 0), (None, 5e-324, None)]
    got = values_frame(spark, rows, schema).collect()
    want = spark.createDataFrame(rows, schema).collect()
    assert _bits(got) == _bits(want)


def test_one_row_frame_non_finite_round_trip(spark):
    vals = [NAN, INF, -INF, -0.0, 0.1]
    got = one_row_frame(spark, v=doubles_sql(vals), s=sql_scalar_literal(NAN)).collect()
    want = spark.createDataFrame([(vals, NAN)], "v array<double>, s double").collect()
    assert _bits(got) == _bits(want)


def test_quoted_column_names(spark):
    df = values_frame(spark, [(1, "a", 0.5), (2, "b", 1.5)], "order bigint, `select` string, `line no` double")
    assert df.columns == ["order", "select", "line no"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a", 0.5), (2, "b", 1.5)]
    row = one_row_frame(spark, order="1L", **{"a`b": "2L"}).collect()[0]
    assert (row["order"], row["a`b"]) == (1, 2)
