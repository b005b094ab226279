"""Registry-order invariants: the driver's correctness sweep checks a
PREFIX of queries() order (50 entries in round 1), so the first 50 slots
must keep covering every operator family — this locks that contract
against accidental reorders."""

from __future__ import annotations

import bench
from lithops_dataframe_spark.plans import QUERIES, ordered_queries
from lithops_dataframe_spark.plans.registry import PRIORITY


def test_priority_names_all_registered():
    assert set(PRIORITY) <= set(QUERIES)


def test_ordered_prefix_is_priority():
    names = list(ordered_queries())
    assert names[: len(PRIORITY)] == list(PRIORITY)


def test_top50_covers_every_family():
    """Each SURVEY §2 family / LLM-pipeline capability must keep at least
    one representative inside the 50-slot driver gate — expressed as
    family → candidate set so per-round rotations (r4: 30 first-ever
    driver rows promoted) can swap WHICH query proves a family without
    silently dropping the family itself."""
    top = set(list(ordered_queries())[:50])
    families = {
        "relational core": {"q03_shipping_priority"},
        "reductions": {"red_stats_combined"},
        "non-temporal joins": {"join_types_combined"},
        "temporal join": {"join_asof_purchase_last_click", "join_asof_global_market_mark"},
        "ranking windows": {"win_ranking_combined"},
        "running window frame": {
            "win_cumsum_per_supplier",
            "events_sessionize_gap",  # running sum over unboundedPreceding
            "events_ewma_user_value",
            # the as-of carry IS a running frame: last(struct, ignorenulls)
            # over rowsBetween(unboundedPreceding, 0) — operators/joins.py
            "join_asof_purchase_last_click",
            "join_asof_global_market_mark",
        },
        "set ops": {"setop_combined"},
        "agg shapes": {"agg_shapes_combined"},
        "sketch percentiles": {"agg_percentiles_approx"},
        "scalar functions": {"scalar_funcs_combined"},
        "json/map/variant": {"scalar_json_map_events", "scalar_variant_props"},
        "sources": {"csv_roundtrip"},
        "sinks (write + read back)": {
            "io_compact_small_files",
            "io_zorder_roundtrip",
            "io_optimize_compact_zorder",
            "stream_pyds_jsonl_sink",
            # materializes HLL partials to parquet and answers the window
            # from the read-back table — a full writer/reader round trip
            "rollup_sketch_hll_daily",
            # dynamic-partition-overwrite MERGE: writes the upserted
            # partitions and answers from the read-back table
            "io_merge_upsert_partitioned",
            # foreachBatch CDC-apply MERGE: every micro-batch writes the
            # merged table to parquet and the query answers from the
            # read-back result — a streaming writer/reader round trip
            "stream_merge_upsert_sink",
            # writes a deliberately-corrupted CSV and reads it back in
            # PERMISSIVE mode with a dead-letter audit — a writer/reader
            # round trip through the CSV sink+source
            "io_csv_corrupt_audit",
        },
        "arrow-batched python": {
            "retrieval_mmr_rerank",
            "udf_map_in_arrow",
            "udf_cogroup_reconcile",
            "udf_grouped_ols_trend",
        },
        "udtf": {"udtf_long_token_index"},
        "streaming": {"stream_session_windows"},
        "stateful/custom streaming": {
            "stream_counter_agg",
            "stream_incremental_dedup",
            "stream_stateful_running_totals",
        },
        "dedup": {"dedup_minhash_lsh_pairs"},
        "ann": {"sim_cosine_topk_lsh"},
        "ann quantized": {"sim_cosine_topk_ivf", "sim_adc_topk_pq", "sim_ivfpq_topk"},
        "clustering": {"kmeans_cells"},
        "text": {"text_hashed_tfidf", "text_bm25_search"},
        "multimodal": {"mm_phash_neardup"},
        "multimodal/object ingest": {"pyds_bindir_source", "mm_binaryfile_source"},
        "decontamination": {
            "decontaminate_ngram_overlap",
            "decontaminate_bloom_prefilter",
            "decontaminate_semantic",
        },
        "sampling": {"sample_k_per_stratum", "sample_systematic_weighted"},
        "pipeline composition": {"pipeline_clean_corpus"},
    }
    # No waivers remain: the r9 rotation's backfill slots (28-50) were
    # chosen to restore driver presence to every family waived during the
    # r4-r8 never-gated rotations (sampling, object ingest,
    # decontamination, arrow-batched python, stateful/custom streaming),
    # so the full family list is enforced again.
    missing = [fam for fam, cands in families.items() if not (cands & top)]
    assert not missing, f"top-50 no longer covers families: {missing}"


def test_bench_timed_set_registered_and_unique():
    """``bench.py`` times every name once and reports nothing it did not
    time: a renamed query fails here instead of dropping out of a total."""
    assert set(bench.TIMED) <= set(QUERIES)
    assert len(bench.TIMED) == len(set(bench.TIMED)) == 154
    assert bench.TIMED[:32] == bench.HEADLINE
