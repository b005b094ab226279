"""Streaming-surface queries registered in BATCH mode (the driver gate runs
batch plans): every builder in streaming/events.py applied to the batch
events table, with DuckDB oracles. The streaming half of the contract —
that the SAME builders produce identical results under readStream +
availableNow replay — is asserted in tests/test_streaming.py.

Window-origin parity: Spark's `window()` and DuckDB's `time_bucket` both
align tumbling buckets to the 1970-01-01 epoch; the session pins UTC so
timestamp arithmetic agrees.

Session-window parity: Spark merges an event into a session iff its ts is
strictly inside [start, last_ts + gap); the oracle's gaps-and-islands
`>= gap → new session` reproduces the exclusive end bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lithops_dataframe_spark import cache
from lithops_dataframe_spark.catalog import load_table
from lithops_dataframe_spark.streaming import events as SE
from lithops_dataframe_spark.streaming.staging import await_or_raise
from lithops_dataframe_spark.plans.registry import register

_TUMBLING_ORACLE = """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS w_end,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2, 3
"""

_SLIDING_ORACLE = """
    WITH offs AS (SELECT unnest(range(2)) AS k),
    e AS (
        SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes' AS w_start,
               value
        FROM events, offs WHERE ts IS NOT NULL
    )
    SELECT w_start, w_start + INTERVAL '1 hour' AS w_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM e GROUP BY 1, 2
"""

_SESSION_ORACLE = """
    WITH o AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '10 minutes'
                    THEN 1 ELSE 0 END AS new_s
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
    ),
    s AS (
        SELECT user_id, ts, value,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, value
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM o
    )
    SELECT user_id,
           MIN(ts) AS s_start,
           MAX(ts) + INTERVAL '10 minutes' AS s_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM s GROUP BY user_id, sid
"""

_DEDUP_ORACLE = """
    SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM (
        -- keep-earliest per event_id, tiebreak (event_type, value) —
        -- the batch twin's deterministic rule (r11: duplicate event_ids
        -- with different payloads; a full-tuple DISTINCT kept both).
        -- NULLS FIRST on EVERY field (ADVICE r11): Spark's struct-min
        -- orders a NULL anywhere in the struct first, while DuckDB's
        -- ORDER BY defaults to NULLS LAST per key — a tie on ts with a
        -- NULL event_type would otherwise diverge.
        SELECT event_id,
               first(event_type ORDER BY ts NULLS FIRST,
                     event_type NULLS FIRST, value NULLS FIRST)
                   AS event_type,
               first(value ORDER BY ts NULLS FIRST,
                     event_type NULLS FIRST, value NULLS FIRST)
                   AS value
        FROM events WHERE ts IS NOT NULL
        GROUP BY event_id
    )
    GROUP BY event_type
"""

_DAILY_ORACLE = """
    SELECT time_bucket(INTERVAL '1 day', ts) AS day_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value,
           ROUND(AVG(value), 6) AS avg_value
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
"""


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


@register("stream_tumbling_counts", oracle=_TUMBLING_ORACLE)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SE.tumbling_counts(_events(spark, sf_dir))


# Streaming CDC-apply: two micro-batches (even event_ids, then odd) merge
# per-user aggregates into a partitioned target; later epochs replace
# earlier rows per key, so the final table carries the ODD-batch aggregate
# for users with odd events and the EVEN-batch one otherwise.
_MERGE_SINK_ORACLE = """
    WITH ev AS (
        SELECT user_id, event_id,
               CAST(ROUND(value * 100) AS BIGINT) AS c
        FROM events
    ),
    odd AS (SELECT user_id, COUNT(*) AS n, SUM(c)::BIGINT AS cents
            FROM ev WHERE event_id % 2 = 1 GROUP BY 1),
    even AS (SELECT user_id, COUNT(*) AS n, SUM(c)::BIGINT AS cents
             FROM ev WHERE event_id % 2 = 0 GROUP BY 1)
    SELECT COALESCE(o.user_id, e.user_id) AS user_id,
           CASE WHEN o.user_id IS NOT NULL THEN o.n ELSE e.n END AS n_events,
           CASE WHEN o.user_id IS NOT NULL THEN o.cents ELSE e.cents END AS cents
    FROM odd o FULL JOIN even e ON e.user_id = o.user_id
"""
# Oracle fixed r9: last-batch-wins replaces the WHOLE row — the previous
# per-column COALESCE(o.cents, e.cents) wrongly resurrected the even-batch
# cents for a user whose odd-batch sum is NULL (all-NULL values), mixing
# two epochs in one row. Found by the r9 edge sweep.


@register("stream_merge_upsert_sink", oracle=_MERGE_SINK_ORACLE)
def stream_merge_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE-apply sink (round 6) — continuous CDC-apply: a
    two-micro-batch replay (even event_ids, then odd) flows through
    ``foreachBatch``, each batch aggregated per user and MERGED into a
    partitioned parquet target (anti-join the batch keys in the touched
    partitions, union, dynamic overwrite). Later epochs replace earlier
    per-key rows; untouched partitions are never rewritten; a retried
    epoch re-applies idempotently — Delta-MERGE semantics on plain
    parquet, per-epoch cost O(touched partitions). The read-back table
    must hash-match the oracle's last-batch-wins replay."""
    import os as _os

    from lithops_dataframe_spark.streaming.sinks import (
        foreach_batch_merge_upsert_sink,
    )
    from lithops_dataframe_spark.streaming.staging import stage_microbatches

    ev = _events(spark, sf_dir)
    work = cache.scratch("merge_sink")
    replay = _os.path.join(work, "replay")
    # two ordered micro-batch files: even event_ids, then odd (ids whose
    # remainder is neither, negative odd or NULL, are in no batch, as in
    # the oracle)
    stage_microbatches(ev, F.col("event_id") % 2, 2, replay)

    target = _os.path.join(work, "target")

    def per_user(batch_df):
        return batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        ).withColumn("part", F.col("user_id") % 8)

    stream = SE.read_events_stream(spark, replay + "/*.parquet", ev.schema)
    q = foreach_batch_merge_upsert_sink(
        stream,
        target,
        _os.path.join(work, "_ckpt"),
        transform=per_user,
        key_col="user_id",
        part_col="part",
    )
    await_or_raise(q, 300, "stream_merge_upsert_sink")
    return spark.read.parquet(target).select("user_id", "n_events", "cents")


_ENRICHED_ORACLE = """
    SELECT time_bucket(INTERVAL '1 hour', e.ts) AS w_start,
           time_bucket(INTERVAL '1 hour', e.ts) + INTERVAL '1 hour' AS w_end,
           COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
           COUNT(*) AS n_purchases,
           SUM(CAST(ROUND(e.value * 100) AS BIGINT)) / 100.0 AS revenue
    FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
    WHERE e.event_type = 'purchase' AND e.ts IS NOT NULL
    GROUP BY 1, 2, 3
"""


@register("stream_enriched_segment_windows", oracle=_ENRICHED_ORACLE)
def stream_enriched_segment_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join (round 6) — the dimension-lookup
    pattern §2.10 was missing: the purchase stream joins the static
    customer dimension per micro-batch (no join state, no watermark on
    the static side), then tumbling revenue per (window, market segment).
    Batch twin here; the genuinely-streaming equivalence (readStream +
    availableNow over the same files equals this batch result exactly) is
    asserted in tests/test_streaming.py."""
    return SE.enriched_segment_windows(
        _events(spark, sf_dir), load_table(spark, sf_dir, "customer")
    )


@register("stream_sliding_activity", oracle=_SLIDING_ORACLE)
def stream_sliding_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SE.sliding_user_activity(_events(spark, sf_dir))


@register("stream_session_windows", oracle=_SESSION_ORACLE)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SE.session_windows(_events(spark, sf_dir))


@register("stream_dedup_events", oracle=_DEDUP_ORACLE)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SE.dedup_events(_events(spark, sf_dir))


_CORRELATION_ORACLE = """
    SELECT v.user_id, COUNT(*) AS n_pairs,
           SUM(CAST(ROUND(c.value * 100) AS BIGINT)) / 100.0 AS clicked_value
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'view' AND ts IS NOT NULL) v
    JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click' AND ts IS NOT NULL) c
      ON c.user_id = v.user_id
     AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL '30 minutes'
    GROUP BY v.user_id
"""


@register("stream_view_click_correlation", oracle=_CORRELATION_ORACLE)
def stream_view_click_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SE.view_click_correlation(_events(spark, sf_dir))


_LEFT_OUTER_ORACLE = """
    SELECT v.user_id,
           COUNT(*)::BIGINT AS n_rows,
           COUNT(c.value)::BIGINT AS n_matched,
           SUM(CASE WHEN c.ts IS NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_unmatched_views,
           COALESCE(SUM(CAST(ROUND(c.value * 100) AS BIGINT)), 0) / 100.0
               AS attributed_value
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'view' AND ts IS NOT NULL) v
    LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click' AND ts IS NOT NULL) c
      ON c.user_id = v.user_id
     AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL '30 minutes'
    GROUP BY v.user_id
"""


@register("stream_view_click_left_outer", oracle=_LEFT_OUTER_ORACLE)
def stream_view_click_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join (round 5), batch twin:
    attribution coverage per user — views with no click within the
    horizon survive as null-attributed rows. The genuinely-streaming
    behavior (eager matched emission, null emission gated on watermark
    eviction, end-of-stream holdback of young unmatched views) is
    asserted in tests/test_streaming.py::test_stream_left_outer_join."""
    return SE.view_click_attribution_coverage(_events(spark, sf_dir))


@register("stream_daily_type_revenue", oracle=_DAILY_ORACLE)
def stream_daily_type_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SE.daily_type_revenue(_events(spark, sf_dir))


_STATEFUL_ORACLE = """
    SELECT user_id,
           2 * COUNT(*) AS n_events,
           ROUND(2 * SUM(value), 4) AS sum_value
    FROM events GROUP BY user_id
"""


@register("stream_stateful_running_totals", oracle=_STATEFUL_ORACLE)
def stream_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL structured stream through ``applyInPandasWithState``
    (streaming/events.py user_running_totals): the events table is staged
    twice as two micro-batch files (``stage_microbatches`` on a ``__copy``
    column, so per-user state genuinely carries ACROSS batches), run with
    an availableNow trigger into a memory sink, then reduced to the final
    per-user totals (update mode re-emits a user per batch; the row with
    the max n_events is the last emission — counts only grow). The frame
    returned is the lazy read of the sink.

    The oracle is the batch aggregate over the doubled input — the
    incremental-stateful result must equal it exactly. This is the one
    queries() entry that exercises the streaming state store itself, not
    just the batch twin of a streaming plan.
    """
    import os
    import uuid

    from pyspark.sql.window import Window

    from lithops_dataframe_spark.streaming.staging import stage_microbatches

    ev = _events(spark, sf_dir)
    work = cache.scratch("stateful_replay")
    sink = cache.temp_view(spark, "lds_stateful_" + uuid.uuid4().hex[:8])
    replay = os.path.join(work, "replay")
    both = ev.withColumn("__copy", F.lit(0)).unionByName(ev.withColumn("__copy", F.lit(1)))
    stage_microbatches(both, F.col("__copy"), 2, replay)
    stream = SE.read_events_stream(spark, replay + "/*.parquet", ev.schema)
    totals = SE.user_running_totals(stream)

    q = (
        totals.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300, "stream_stateful_running_totals")

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        spark.table(sink)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "n_events", "sum_value")
    )


@register(
    "stream_counter_agg",
    oracle="""
    SELECT * FROM (
        WITH seq AS (
            SELECT user_id, (FLOOR(value * 100 + 0.5))::BIGINT AS cents,
                   LAG((FLOOR(value * 100 + 0.5))::BIGINT)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
            FROM events WHERE ts IS NOT NULL
        ),
        d AS (
            SELECT user_id,
                   CASE WHEN prev IS NULL THEN NULL
                        WHEN cents >= prev THEN cents - prev
                        ELSE cents END AS delta,
                   CASE WHEN prev IS NOT NULL AND cents < prev THEN 1 ELSE 0 END
                     AS reset
            FROM seq
        )
        SELECT user_id, COUNT(delta)::BIGINT AS n_deltas,
               SUM(reset)::BIGINT AS n_resets,
               SUM(delta)::BIGINT AS total_delta_cents
        FROM d GROUP BY user_id
    ) WHERE n_deltas >= 1
""",
)
def stream_counter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-SENSITIVE streaming state: the counter_agg twin run as a REAL
    structured stream through ``applyInPandasWithState``
    (streaming/events.py::user_counter_agg). The events table is staged
    as a TIME-SPLIT two-file replay (``stage_microbatches`` on
    ``ts >= t_mid``, t_mid the approximate median ts: every event in the
    second file is later than every event in the first, and equal
    timestamps never straddle the boundary), consumed with
    maxFilesPerTrigger=1 + availableNow, so the per-user last-reading
    state genuinely carries across micro-batches AND batch order matters
    — the property that distinguishes this from the commutative
    running-totals operator. The frame returned is the lazy read of the
    memory sink. The oracle is the plain batch LAG query over the whole
    table: the incremental result must equal it exactly (single-event
    users, which the batch query reports as NULL-sum rows, are filtered
    on both sides)."""
    import os
    import uuid

    from pyspark.sql.window import Window

    from lithops_dataframe_spark.streaming.staging import stage_microbatches

    ev = _events(spark, sf_dir)
    work = cache.scratch("counter_replay")
    sink = cache.temp_view(spark, "lds_counter_" + uuid.uuid4().hex[:8])
    replay = os.path.join(work, "replay")
    # any threshold keeps the split time-ordered, so an approximate
    # median serves
    t_mid = ev.agg(F.percentile_approx("ts", 0.5)).first()[0]
    stage_microbatches(ev, (F.col("ts") >= F.lit(t_mid)).cast("int"), 2, replay)
    stream = SE.read_events_stream(spark, replay + "/*.parquet", ev.schema)
    agg = SE.user_counter_agg(stream)

    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300, "stream_counter_agg")

    w = Window.partitionBy("user_id").orderBy(F.col("n_deltas").desc())
    return (
        spark.table(sink)
        .withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("n_deltas") >= 1))
        .select("user_id", "n_deltas", "n_resets", "total_delta_cents")
    )


_TOPK_HH_ORACLE = """
    WITH c AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) AS w_start, user_id,
               COUNT(*)::BIGINT AS n_events,
               SUM((FLOOR(value * 100 + 0.5))::BIGINT)::BIGINT AS sum_cents
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    rk AS (
        SELECT *, row_number() OVER (PARTITION BY w_start
                   ORDER BY n_events DESC, sum_cents DESC, user_id ASC) AS rank
        FROM c
    )
    SELECT w_start, rank::INT AS rank, user_id, n_events, sum_cents
    FROM rk WHERE rank <= 3
"""


@register("stream_window_topk_users", oracle=_TOPK_HH_ORACLE)
def stream_window_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-k heavy hitters: the 3 most active users of every
    6-hour tumbling window (count, exact cents) — the leaderboard /
    abuse-detection shape. The aggregation half is the streamable
    incremental state (windowed_user_counts); the rank half runs per
    FINALIZED window (foreachBatch / sink-side in streaming — asserted
    stream≡batch in tests/test_streaming.py). All-BIGINT outputs;
    deterministic (count, cents, user) tie-break."""
    return SE.topk_per_window(SE.windowed_user_counts(_events(spark, sf_dir)))


_FULL_OUTER_ORACLE = """
    WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view' AND ts IS NOT NULL),
    c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click' AND ts IS NOT NULL),
    j AS (
        SELECT COALESCE(v.user_id, c.user_id) AS user_id,
               v.ts AS v_ts, c.ts AS c_ts, c.value AS c_value
        FROM v FULL JOIN c
          ON c.user_id = v.user_id
         AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL '30 minutes'
    )
    SELECT user_id,
           COUNT(*)::BIGINT AS n_rows,
           SUM(CASE WHEN v_ts IS NOT NULL AND c_ts IS NOT NULL
                    THEN 1 ELSE 0 END)::BIGINT AS n_matched,
           SUM(CASE WHEN c_ts IS NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_orphan_views,
           SUM(CASE WHEN v_ts IS NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_orphan_clicks,
           COALESCE(SUM(CASE WHEN v_ts IS NOT NULL
                             THEN CAST(ROUND(c_value * 100) AS BIGINT) END),
                    0)::BIGINT AS attributed_cents
    FROM j GROUP BY user_id
"""


@register("stream_view_click_full_outer", oracle=_FULL_OUTER_ORACLE)
def stream_view_click_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join (round 6 — completes the
    inner/left/full matrix), batch twin: the two-sided attribution
    ledger per user (matched pairs, orphan views, orphan clicks, exact
    attributed cents). The genuinely-streaming behavior — eager matched
    emission, BOTH null classes gated on provable watermark eviction,
    end-of-stream holdback on both sides — is asserted in
    tests/test_streaming.py::test_stream_full_outer_join."""
    return SE.view_click_full_outer_coverage(_events(spark, sf_dir))
