"""Python Data Source API queries (sources/pyds.py) — the custom-connector
extension point proven under the value-hash gate."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lithops_dataframe_spark import cache
from lithops_dataframe_spark.catalog import load_table
from lithops_dataframe_spark.operators import multimodal as M
from lithops_dataframe_spark.plans.registry import register
from lithops_dataframe_spark.sources.pyds import register_sources

_N_DOCS = 5000
_N_PARTS = 16

_SYNTH_ORACLE = f"""
    WITH d AS (SELECT unnest(range({_N_DOCS})) AS doc_id)
    SELECT 'cat' || (doc_id % 7)::VARCHAR AS category,
           COUNT(*)::BIGINT AS n,
           ROUND(SUM((doc_id * 37 % 1000) / 1000.0), 4) AS score_sum,
           MIN(md5(doc_id::VARCHAR)) AS min_fp
    FROM d GROUP BY 1
"""


@register("pyds_synthetic_source", oracle=_SYNTH_ORACLE)
def pyds_synthetic_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom batch source via the Python Data Source API: the planner
    enumerates cheap id-range InputPartitions driver-side; each task
    materializes only its slice executor-side (the contract a paginated
    API / sharded-store connector uses). The aggregate downstream is a
    plain hash aggregate — the source feeds Catalyst like any native
    scan. Deterministic row content ⇒ full value-hash oracle."""
    register_sources(spark)
    docs = (
        spark.read.format("lds_docs")
        .option("n", _N_DOCS)
        .option("n_parts", _N_PARTS)
        .load()
    )
    return docs.groupBy("category").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("score"), 4).alias("score_sum"),
        F.min("fingerprint").alias("min_fp"),
    )


_PUSH_LO, _PUSH_HI = 1200, 3800

_PUSHDOWN_ORACLE = f"""
    WITH d AS (SELECT unnest(range({_PUSH_LO}, {_PUSH_HI})) AS doc_id)
    SELECT doc_id::BIGINT AS doc_id,
           ROUND((doc_id * 37 % 1000) / 1000.0, 4) AS score,
           md5(doc_id::VARCHAR) AS fingerprint
    FROM d WHERE 'cat' || (doc_id % 7)::VARCHAR = 'cat3'
"""


@register("pyds_pushdown_source", oracle=_PUSHDOWN_ORACLE)
def pyds_pushdown_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushdown through the Python Data Source API (Spark 4.1
    ``pushFilters``): the doc_id range predicates reach the reader and
    PRUNE PARTITIONS (the [lo, hi) id range is tightened before partition
    planning — at 100 TB this is the difference between scanning a shard
    and scanning the store), and the category equality is consumed
    row-side inside the reader. Correctness is the full value-hash oracle
    over the filtered rows; the pruning itself is asserted by unit tests
    driving pushFilters()/partitions() directly."""
    register_sources(spark)
    docs = (
        spark.read.format("lds_docs")
        .option("n", _N_DOCS)
        .option("n_parts", _N_PARTS)
        .load()
    )
    return (
        docs.filter(
            (F.col("doc_id") >= _PUSH_LO)
            & (F.col("doc_id") < _PUSH_HI)
            & (F.col("category") == "cat3")
        )
        .select("doc_id", F.round("score", 4).alias("score"), "fingerprint")
    )


_N_STREAM = 1000

_STREAM_ORACLE = f"""
    WITH s AS (SELECT unnest(range({_N_STREAM})) AS seq)
    SELECT 'u' || (seq % 10)::VARCHAR AS user,
           COUNT(*)::BIGINT AS n,
           ROUND(SUM((seq * 13 % 100) / 10.0), 4) AS sum_amount
    FROM s GROUP BY 1
"""


@register("stream_pyds_counter_source", oracle=_STREAM_ORACLE)
def stream_pyds_counter_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING connector (SimpleDataSourceStreamReader): a
    bounded offset-tracked micro-batch source drains through a real
    readStream → aggregate → complete-mode memory sink (4 micro-batches of
    250, processAllAvailable blocks until the source's offset stops
    advancing — availableNow would snapshot only the first read). The
    final per-user totals must equal the oracle's batch replay of the full
    record range — proving offset advancement and deterministic replay."""
    import uuid

    register_sources(spark)
    stream = (
        spark.readStream.format("lds_counter_stream")
        .option("n_total", _N_STREAM)
        .option("batch_size", 250)
        .load()
    )
    totals = stream.groupBy("user").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("amount"), 4).alias("sum_amount")
    )
    sink = cache.temp_view(spark, "lds_pyds_stream_" + uuid.uuid4().hex[:8])
    q = (
        totals.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(sink)


_BINDIR_ORACLE = """
    SELECT doc_id,
           octet_length(encode(text))::BIGINT AS n_bytes,
           md5(text) AS payload_md5
    FROM (
        -- writer's key-collision policy: one object per doc_id, smallest
        -- NON-EMPTY payload kept (min over UTF-8 text == min over bytes;
        -- ADVICE r11: the writer excludes empty payloads before the min —
        -- zero-byte objects never round-trip through a binary source —
        -- so the oracle filters before GROUP BY to min over the same set)
        SELECT doc_id, min(text) AS text
        FROM documents
        WHERE doc_id < 200 AND text IS NOT NULL
              AND octet_length(encode(text)) > 0
        GROUP BY doc_id
    )
"""


@register("pyds_bindir_source", oracle=_BINDIR_ORACLE)
def pyds_bindir_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-lake connector via the Python Data Source API: payloads are
    written executor-side as one <id>.bin object each (media-lake layout),
    then read back through the from-scratch ``lds_bindir`` format — one
    partition per file group, md5 integrity proven against the source
    text. The Python-DataSource twin of mm_binaryfile_source."""
    register_sources(spark)
    media = M.media_table(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    )
    out = cache.scratch("pyds_bin")
    M.write_payload_files(media, out)
    return (
        spark.read.format("lds_bindir")
        .option("path", out)
        .option("n_parts", 8)
        .load()
    )


@register("stream_pyds_jsonl_sink", oracle=_STREAM_ORACLE)
def stream_pyds_jsonl_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING SINK via ``DataSourceStreamWriter``: the counter
    stream writes through the transactional jsonl-dir sink (per-task part
    files → per-epoch driver commit with atomic renames + a ``_commits``
    manifest; aborted epochs leave no visible files). Read-back honors the
    manifest — only committed batches count — and the per-user totals must
    hash-match the same batch-replay oracle as the source query, proving
    the write path end-to-end."""
    import json
    import os as _os
    import uuid

    register_sources(spark)
    out = cache.scratch("jsonl_sink")
    stream = (
        spark.readStream.format("lds_counter_stream")
        .option("n_total", _N_STREAM)
        # 2 epochs: still proves the multi-epoch manifest commit (and the
        # abort path has its own unit test); 4 micro-batches doubled the
        # fixed per-epoch machinery cost for no extra contract coverage
        .option("batch_size", 500)
        .load()
    )
    q = (
        stream.writeStream.format("lds_jsonl_sink")
        .option("path", out)
        .option("checkpointLocation", _os.path.join(out, "_ckpt"))
        .queryName("lds_sink_" + uuid.uuid4().hex[:8])
        .start()
    )
    q.processAllAvailable()
    q.stop()
    committed = []
    with open(_os.path.join(out, "_commits")) as fh:
        for line in fh:
            committed += [
                _os.path.join(out, e["file"]) for e in json.loads(line)["files"]
            ]
    rows = spark.read.schema("seq bigint, user string, amount double").json(committed)
    return rows.groupBy("user").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("amount"), 4).alias("sum_amount")
    )
