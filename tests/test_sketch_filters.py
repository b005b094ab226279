"""Bloom filter / CMS operator invariants beyond the oracle gates:
no false negatives, bounded false positives, CMS never undercounts."""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from lithops_dataframe_spark.operators import sketches as SK
from lithops_dataframe_spark.plans import QUERIES
from lithops_dataframe_spark.plans.dedup_q import _CDC_ORACLE
from tests.conftest import assert_df_equal

_M = 1 << 16
_K = 5


def test_bloom_no_false_negatives_and_low_fp(spark):
    members = [f"member-{i}" for i in range(500)]
    others = [f"other-{i}" for i in range(2000)]
    mdf = spark.createDataFrame([(v,) for v in members], "s string")
    bloom = SK.bloom_build(mdf, "s", m_bits=_M, k=_K)

    probes = spark.createDataFrame([(v,) for v in members + others], "s string")
    hits = {
        r.s
        for r in SK.bloom_probe_hits(
            probes, "s", bloom, m_bits=_M, k=_K, keep=[]
        ).collect()
    }
    # every member must hit (no false negatives — the property the
    # prefilter+verify composition relies on for exactness)
    assert set(members) <= hits
    # FP rate at n=500, m=2^16, k=5 ≈ 0.0001 — allow generous slack
    fp = len(hits - set(members))
    assert fp <= 20, f"false-positive count {fp} implausibly high"


def test_cms_overcounts_never_undercounts(spark):
    rows = [(f"tok{i % 7}",) for i in range(700)] + [("rare",)]
    items = spark.createDataFrame(rows, "token string")
    cms = SK.cms_build(items, "token", depth=4, width=64)  # tiny → collisions
    qs = spark.createDataFrame(
        [(f"tok{i}",) for i in range(7)] + [("rare",), ("absent",)], "token string"
    )
    est = {r.token: r.cms_est for r in SK.cms_estimate(qs, "token", cms, depth=4, width=64).collect()}
    exact = {f"tok{i}": 100 for i in range(7)}
    exact["rare"] = 1
    exact["absent"] = 0
    for t, e in exact.items():
        assert est[t] >= e, f"{t}: CMS undercounted {est[t]} < {e}"
    # total cells bounded by depth*width regardless of input size
    assert cms.count() <= 4 * 64


def test_cms_exact_when_width_large(spark):
    # with width >> distinct values, collisions vanish → est == exact
    rows = [(f"w{i % 5}",) for i in range(50)]
    items = spark.createDataFrame(rows, "token string")
    cms = SK.cms_build(items, "token", depth=4, width=4096)
    qs = items.distinct()
    est = {r.token: r.cms_est for r in SK.cms_estimate(qs, "token", cms, depth=4, width=4096).collect()}
    assert est == {f"w{i}": 10 for i in range(5)}


# ---------------------------------------------------------------------------
# Content-defined chunking (round 4)
# ---------------------------------------------------------------------------


def test_cdc_chunks_lossless_partition(spark):
    """Chunks partition the sanitized text exactly: lengths sum to the
    document length and indexes are contiguous from 0."""
    from lithops_dataframe_spark.operators.dedup import cdc_chunks

    text = " ".join(f"tok{i * 17 % 101}" for i in range(300))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(cdc_chunks(df, "text").collect(), key=lambda r: r["chunk_idx"])
    assert [r["chunk_idx"] for r in rows] == list(range(len(rows)))
    assert sum(r["chunk_len"] for r in rows) == len(text)
    assert len(rows) > 2  # boundaries actually fire


def test_cdc_chunks_match_oracle(spark, tmp_path):
    """``dedup_cdc_chunks`` equals its DuckDB replay on edge documents:
    non-ASCII text (sanitized away), a sub-window doc (single chunk),
    empty and NULL text (no rows). Every document is written twice, so
    every chunk is a duplicate and reaches the output."""
    docs = [
        (1, " ".join(f"w{i * 29 % 997}" for i in range(500))),
        (2, "héllo wörld — ünïcode" * 40),  # sanitization path
        (3, "short"),  # below the window: one chunk
        (4, ""),  # no rows
        (5, None),  # no rows
    ]
    rows = [(i + k, t, "en", "web", len(t or "")) for k in (0, 10) for i, t in docs]
    sf = tmp_path / "sf"
    sf.mkdir()
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(sf / "documents.parquet")
    duck = duckdb.connect()
    duck.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf / 'documents.parquet'}')"
    )
    result = QUERIES["dedup_cdc_chunks"](spark, str(sf))
    assert result.count() > 0
    assert_df_equal(result, duck.sql(_CDC_ORACLE))


def test_cdc_chunks_shift_invariance(spark):
    """THE content-defined property: an insertion near the front leaves
    the vast majority of downstream chunks bit-identical, where
    byte-offset chunking would invalidate every one of them."""
    from lithops_dataframe_spark.operators.dedup import cdc_chunks

    base = " ".join(f"w{i * 29 % 997}" for i in range(400))
    edited = base[:60] + "XYZZY INSERTED PASSAGE " + base[60:]
    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    rows = cdc_chunks(df, "text").collect()
    h1 = {r["chunk_md5"] for r in rows if r["id"] == 1}
    h2 = {r["chunk_md5"] for r in rows if r["id"] == 2}
    assert len(h1) >= 10
    shared = len(h1 & h2)
    assert shared >= len(h1) - 3, f"only {shared}/{len(h1)} chunks survived the edit"


def test_cdc_chunk_sizes_near_target(spark):
    from lithops_dataframe_spark.operators.dedup import cdc_chunks

    text = " ".join(f"z{i * 13 % 389}" for i in range(2000))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = cdc_chunks(df, "text", mask=63).collect()
    mean = sum(r["chunk_len"] for r in rows) / len(rows)
    assert 30 <= mean <= 130, f"mean chunk len {mean} far from the ~64 target"
