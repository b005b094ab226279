"""The catalog's relation cache: a warm ``load_table`` launches no
schema-inference job, returns the schema an uncached read infers, sees a
file rewritten in place, keys on the schema-affecting confs, and still
returns a fresh relation per call (self-joins stay well-formed)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from lithops_dataframe_spark.catalog import RELATIONS, TABLES, load_table, normalize_events_ts, table_path

from tests.conftest import next_job_id


def _keys_for(spark, path: str) -> list[tuple]:
    return [k for k in RELATIONS[spark] if k[0] == os.path.abspath(path)]


def test_warm_load_launches_no_job(spark, sf_dir):
    load_table(spark, sf_dir, "orders")
    before = next_job_id(spark)
    df = load_table(spark, sf_dir, "orders")
    assert next_job_id(spark) == before
    assert "o_orderkey" in df.columns


def test_cached_schema_matches_inferred(spark, sf_dir):
    for name in TABLES:
        load_table(spark, sf_dir, name)
        before = next_job_id(spark)
        cached = load_table(spark, sf_dir, name).schema
        assert next_job_id(spark) == before, name
        inferred = spark.read.parquet(table_path(sf_dir, name))
        if name == "events":
            inferred = normalize_events_ts(inferred)
        assert cached == inferred.schema, name


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = table_path(str(tmp_path), "t")
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"k": [1, 2], "extra": ["a", "b"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert sorted(r.extra for r in df.collect()) == ["a", "b"]


def test_two_loads_self_join(spark, sf_dir):
    # one memoized DataFrame joined with itself would fail the second join
    # as ambiguous (the first one Spark rescues as a trivially-true equality)
    a = load_table(spark, sf_dir, "nation")
    b = load_table(spark, sf_dir, "nation")
    n = a.count()
    assert n > 1
    assert a.join(b, a.n_nationkey == b.n_nationkey).count() == n
    path = table_path(sf_dir, "nation")
    x, y = spark.read.parquet(path), spark.read.parquet(path)
    want = x.join(y, x.n_nationkey == y.n_regionkey).count()
    assert a.join(b, a.n_nationkey == b.n_regionkey).count() == want


def test_nanos_conf_gets_own_entry(spark, tmp_path):
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    path = table_path(str(tmp_path), "t")
    pq.write_table(pa.table({"k": [1]}), path)
    old = spark.conf.get(conf, None)
    try:
        for value in ("false", "true"):
            spark.conf.set(conf, value)
            before = next_job_id(spark)
            load_table(spark, str(tmp_path), "t")
            assert next_job_id(spark) > before, f"{conf}={value} reused another entry"
        assert sorted(k[3][0] for k in _keys_for(spark, path)) == ["false", "true"]
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)
