"""Structured Streaming surface over the `events` table (SURVEY §2.10).

Reference context: the reference has no streaming at all — this is the
north-star slice. Discipline: **batch-first, streaming as incrementalized
batch.** Every transformation here is written against a plain DataFrame,
so the SAME builder runs in two modes:

- batch: applied to ``spark.read.parquet(events)`` → oracle-checked
  against DuckDB (plans/streaming_q.py);
- streaming: applied to ``spark.readStream`` over the same files
  (file source + ``availableNow`` trigger) → asserted **equal to the
  batch result** in tests/test_streaming.py (incremental-view-maintenance
  equivalence).

Watermarks bound state at scale: with a 1-day watermark over a 30-day
replay, completed windows are evicted instead of accumulating; the file
replay delivers data roughly in ts order so nothing is dropped and the
batch equivalence holds exactly.

Late-data semantics (measured, Spark 4.1): update-mode aggregation does
NOT eagerly drop a late row while its window's state still exists in the
store — the drop guarantee attaches to EVICTION: once the watermark
passes a window's end (append finalizes + emits it exactly once), later
arrivals for it are discarded (tests/test_streaming.py::
test_watermark_finalizes_and_drops_late_data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: watermark delay for all event-time operators.
WATERMARK = "1 day"


def read_events_stream(spark: SparkSession, events_dir: str, schema) -> DataFrame:
    """File-source replay of a parquet directory or glob (events, or any
    staged micro-batch files), 1 file/trigger.

    At scale the same plan reads from Kafka — only this reader changes.
    """
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )


def with_watermark(events: DataFrame) -> DataFrame:
    """Apply the event-time watermark on streaming inputs; no-op for batch
    (watermark is legal but ignored in batch mode).

    The fixture's events.ts is parquet TIMESTAMP_NTZ, but streaming event
    time must be TIMESTAMP (LTZ) — cast on the streaming path only (session
    tz is pinned UTC, so wall times are unchanged); batch plans stay NTZ so
    their output matches the DuckDB oracle's naive timestamps. Builders cast
    their output time columns back to NTZ (:func:`_ntz`) so stream results
    stay bit-identical to batch.
    """
    from pyspark.sql import types as T

    if events.isStreaming and isinstance(
        events.schema["ts"].dataType, T.TimestampNTZType
    ):
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    # An event-time operator only sees rows WITH an event time: a NULL ts
    # cannot be watermarked, windowed, or ordered. Made explicit here
    # (edge-fixture r8) because the engines' implicit behaviors DIVERGE —
    # Spark's window() silently drops null-window rows while DuckDB's
    # time_bucket(NULL) keeps a NULL bucket; every routed oracle carries
    # the matching `WHERE ts IS NOT NULL`.
    return events.filter(F.col("ts").isNotNull()).withWatermark("ts", WATERMARK)


def _ntz(col: str, alias: str):
    """Cast a time column back to TIMESTAMP_NTZ (no-op in batch mode where
    it already is NTZ; inverse of the streaming-side cast under UTC)."""
    return F.col(col).cast("timestamp_ntz").alias(alias)


def tumbling_counts(events: DataFrame, *, size: str = "1 hour") -> DataFrame:
    """Tumbling-window counts/sums per event_type.

    Streaming: partial aggregation per micro-batch + state store keyed by
    (window, event_type); watermark evicts closed windows. Batch: ordinary
    hash aggregate — identical results on the same input.
    """
    w = F.window("ts", size)
    return (
        with_watermark(events)
        .groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            _ntz("w.start", "w_start"),
            _ntz("w.end", "w_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def enriched_segment_windows(
    events: DataFrame, customers: DataFrame, *, size: str = "1 hour"
) -> DataFrame:
    """Stream-STATIC enrichment join (the dimension-lookup pattern): each
    micro-batch of the purchase stream equi-joins the static customer
    dimension, then tumbling revenue per (window, market segment).

    Stream-static joins need no watermark on the static side and keep no
    join state — Spark re-plans the static relation per micro-batch (in
    production that is the slowly-changing dimension re-read; here the
    dimension is immutable fixture data, so batch ≡ streaming exactly).
    The dimension is broadcast — at 100 TB a customer dim that outgrows
    broadcast drops the hint and AQE shuffles the join, same builder.
    Unmatched users keep their revenue under 'UNKNOWN' (left join — an
    enrichment must never drop fact rows). Money sums in integer cents."""
    dim = customers.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    e = with_watermark(events).filter(F.col("event_type") == "purchase")
    j = e.join(F.broadcast(dim), "user_id", "left")
    w = F.window("ts", size)
    return (
        j.groupBy(
            w.alias("w"),
            F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            (
                F.sum(F.round(F.col("value") * 100, 0).cast("long")) / 100.0
            ).alias("revenue"),
        )
        .select(
            _ntz("w.start", "w_start"),
            _ntz("w.end", "w_end"),
            "segment",
            "n_purchases",
            "revenue",
        )
    )


def sliding_user_activity(events: DataFrame, *, size: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    """Sliding-window activity: each event lands in size/slide overlapping
    windows (here 2). Exact count+sum only — distinct counts in streaming
    go through approx_count_distinct or a dedup-then-count pipeline."""
    w = F.window("ts", size, slide)
    return (
        with_watermark(events)
        .groupBy(w.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            _ntz("w.start", "w_start"),
            _ntz("w.end", "w_end"),
            "n_events",
            "sum_value",
        )
    )


def session_windows(events: DataFrame, *, gap: str = "10 minutes") -> DataFrame:
    """Per-user session windows: events within `gap` merge into one session.

    ``session_window`` works identically in batch and streaming (merging
    session state per user in the state store when streaming).
    """
    sw = F.session_window("ts", gap)
    return (
        with_watermark(events)
        .groupBy(sw.alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            _ntz("sw.start", "s_start"),
            _ntz("sw.end", "s_end"),
            "n_events",
            "sum_value",
        )
    )


def dedup_events(events: DataFrame) -> DataFrame:
    """Exact dedup on event_id with watermark-bounded state.

    Streaming keeps one state entry per event_id inside the watermark
    horizon; batch is a plain dropDuplicates. Aggregated here (count +
    value sum) so the result is a stable small frame in both modes.

    Equivalence precondition (ADVICE r11): streaming keeps the FIRST
    ARRIVAL per event_id, batch keeps the event-time min — these agree
    exactly when the replay delivers duplicates in event-time order
    (log-compacted sources) or when duplicate payloads are identical
    (at-least-once redelivery). Both paths drop NULL-ts rows: an event
    with no event time can't be watermarked, so admitting it on one leg
    only would fork the result.
    """
    if events.isStreaming:
        deduped = (
            with_watermark(events.filter(F.col("ts").isNotNull()))
            .dropDuplicates(["event_id"])
        )
    else:
        # Batch twin pins the DETERMINISTIC rule: keep the earliest
        # event-time row per event_id, tiebreak (event_type, value) by
        # struct-min (r11 edge row: duplicate event_ids with DIFFERENT
        # payloads make dropDuplicates' arbitrary pick a divergence).
        # Streaming keeps first ARRIVAL — identical to this whenever the
        # replay is event-time-ordered, which a log-compacted source is.
        deduped = (
            events.filter(F.col("ts").isNotNull())
            .groupBy("event_id")
            .agg(F.min(F.struct("ts", "event_type", "value")).alias("__p"))
            .select(
                "event_id",
                F.col("__p.event_type").alias("event_type"),
                F.col("__p.value").alias("value"),
            )
        )
    return deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def view_click_pairs(events: DataFrame, *, within: str = "30 minutes") -> DataFrame:
    """Stream-stream join: each view joined to the SAME user's clicks
    within `within` afterwards — the attribution-join shape.

    Streaming: both sides carry watermarks and the join condition bounds
    event-time distance, so state for both sides is evictable (Spark
    requires exactly this for stream-stream joins: watermark + time-range
    condition). Inner joins emit matches eagerly (append mode), so an
    availableNow replay yields every pair. Batch: the identical join.
    """
    views = with_watermark(events.filter(F.col("event_type") == "view")).select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    clicks = with_watermark(events.filter(F.col("event_type") == "click")).select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"), F.col("value").alias("c_value")
    )
    return views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {within}")),
    ).select(
        F.col("v_user").alias("user_id"),
        _ntz("v_ts", "v_ts"),
        _ntz("c_ts", "c_ts"),
        "c_value",
    )


def view_click_left_outer_pairs(
    events: DataFrame, *, within: str = "30 minutes"
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join (round 5 — the outer
    sibling of :func:`view_click_pairs`): every view emits, carrying null
    click columns when no same-user click followed within ``within``.

    Streaming semantics: matched pairs emit eagerly like the inner join;
    an UNMATCHED view is held in state and emitted with nulls only once
    the watermark passes ``v_ts + within`` — at that point no matching
    click can still arrive, so the null is final (this is why Spark
    requires the watermark + time-range bound here: the outer row's
    correctness depends on provable state eviction). End-of-stream
    consequence tested in tests/test_streaming.py: views younger than
    ``within + watermark delay`` — measured from the SLOWER side's max
    event time, because the global watermark is the min across both
    watermarked inputs — stay in state at the final micro-batch and never
    emit their null row. The batch twin is the full outer result; the
    stream emits the watermark-settled prefix of it.
    """
    views = with_watermark(events.filter(F.col("event_type") == "view")).select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    clicks = with_watermark(events.filter(F.col("event_type") == "click")).select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"), F.col("value").alias("c_value")
    )
    return views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {within}")),
        "leftOuter",
    ).select(
        F.col("v_user").alias("user_id"),
        _ntz("v_ts", "v_ts"),
        _ntz("c_ts", "c_ts"),
        "c_value",
    )


def view_click_attribution_coverage(
    events: DataFrame, *, within: str = "30 minutes"
) -> DataFrame:
    """Batch rollup of :func:`view_click_left_outer_pairs` per user: how
    much of each user's view traffic got click-attributed (outer joins
    can't feed an unwindowed aggregate in streaming mode — the streaming
    contract is tested on the pair stream itself)."""
    pairs = view_click_left_outer_pairs(events, within=within)
    # integer-cents discipline (ADVICE r5): ROUND(SUM(double)) in two
    # engines can tie-break differently on a .00005 boundary — sum exact
    # integer cents instead and divide once, as udf_cogroup_reconcile does
    cents = F.round(F.col("c_value") * 100, 0).cast("long")
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("c_value").alias("n_matched"),
        F.sum(F.when(F.col("c_ts").isNull(), 1).otherwise(0)).alias("n_unmatched_views"),
        (F.coalesce(F.sum(cents), F.lit(0)) / 100.0).alias("attributed_value"),
    )


def view_click_correlation(events: DataFrame, *, within: str = "30 minutes") -> DataFrame:
    """Batch rollup of :func:`view_click_pairs` per user (stream-stream
    joins can't feed an unwindowed aggregate in streaming mode — the
    streaming contract is tested on the pair stream itself)."""
    # same integer-cents discipline as view_click_attribution_coverage
    return view_click_pairs(events, within=within).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (F.sum(F.round(F.col("c_value") * 100, 0).cast("long")) / 100.0).alias(
            "clicked_value"
        ),
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (n_events, sum_value)
    via ``applyInPandasWithState`` — the template for operators Spark's
    built-in aggregations can't express (per-key custom state machines).

    Emits one row per user per micro-batch with the running totals; state
    is a single (count, sum) pair per user_id, so state size is O(users)
    regardless of event volume. Batch equivalence: the totals emitted
    after the last micro-batch equal ``groupBy(user_id).agg(count, sum)``
    over the full input (asserted in tests/test_streaming.py).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s", DoubleType()),
            StructField("nn", LongType()),
        ]
    )

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        n, s, nn = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())  # pandas sum skips NaN
            nn += int(pdf["value"].count())
        state.update((n, s, nn))
        # SQL SUM over zero non-NULL inputs is NULL, pandas' is 0.0 —
        # emit NULL to match the relational spec (r9 edge sweep: a user
        # whose every reading is NULL diverged here).
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [round(s, 4) if nn else None],
            }
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def daily_type_revenue(events: DataFrame) -> DataFrame:
    """Tumbling 1-day revenue per event_type — the rollup a hypertable
    continuous aggregate would maintain incrementally."""
    return (
        with_watermark(events)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(_ntz("w.start", "day_start"), "event_type", "n_events", "sum_value", "avg_value")
    )




def user_counter_agg(events: DataFrame) -> DataFrame:
    """ORDER-SENSITIVE custom stateful operator: per-user reset-aware
    counter aggregation (the streaming twin of the batch
    events_counter_agg query) via ``applyInPandasWithState``.

    Unlike running totals (commutative — any arrival order works), the
    counter delta depends on the PREVIOUS reading, so state must carry
    the last (cents) value across micro-batches and each batch must be
    processed in event order: rows are sorted by (ts, event_id) inside
    the state function, and correctness across batches requires the
    file feed to be time-split (no event in batch N+1 precedes one in
    batch N for the same user) — the property a partitioned event-log
    replay or any log-structured source provides naturally.

    State per user: (last_cents, n_deltas, n_resets, total_delta) — four
    BIGINTs, O(users) regardless of volume. Emits the running aggregate
    per user per batch (update mode); the final emission equals the
    batch query exactly (asserted by the shared DuckDB oracle).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    # order-sensitive on ts: a NULL event time has no position in the
    # reading sequence — excluded identically in the oracle (r8)
    events = events.filter(F.col("ts").isNotNull())

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_deltas", LongType()),
            StructField("n_resets", LongType()),
            StructField("total_delta_cents", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("has_prev", LongType()),
            StructField("last_cents", LongType()),
            StructField("n_deltas", LongType()),
            StructField("n_resets", LongType()),
            StructField("total", LongType()),
        ]
    )

    def fn(key, pdfs, state: GroupState):
        import math

        import pandas as pd

        has_prev, last, nd, nr, tot = (
            state.get if state.exists else (0, 0, 0, 0, 0)
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
        for v in batch["value"]:
            # NULL / non-finite reading (missed scrape, sensor glitch):
            # no delta is defined against it in either direction —
            # exactly SQL's three-valued LAG chain (delta non-NULL iff
            # prev AND cents non-NULL). r9 edge sweep: NaN crashed the
            # int() conversion; r12: ±Inf crashed it too — the guard is
            # the full non-finite-is-missing table policy now.
            if v is None or (isinstance(v, float) and not math.isfinite(v)):
                has_prev = 0
                continue
            cents = int(math.floor(v * 100 + 0.5))
            if has_prev:
                nd += 1
                if cents >= last:
                    tot += cents - last
                else:
                    nr += 1
                    tot += cents
            last, has_prev = cents, 1
        state.update((has_prev, last, nd, nr, tot))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_deltas": [nd],
                "n_resets": [nr],
                "total_delta_cents": [tot],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def windowed_user_counts(events: DataFrame, *, size: str = "6 hours") -> DataFrame:
    """Per (tumbling window, user) event counts + exact cents — the
    streamable aggregation half of the windowed top-k heavy-hitters
    operator.

    Streaming: incremental state keyed by (window, user_id), watermark
    evicts closed windows; batch: one hash aggregate. The rank step lives
    in :func:`topk_per_window` — applied downstream of the sink in
    streaming mode (rank-over-aggregate is not incrementally maintainable;
    the standard deployment ranks each FINALIZED window in foreachBatch
    or on the sink table, which is what tests/test_streaming.py drives).
    """
    w = F.window("ts", size)
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    return (
        with_watermark(events)
        .select("ts", "user_id", cents.alias("cents"))
        .groupBy(w.alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .select(
            _ntz("w.start", "w_start"),
            "user_id",
            "n_events",
            "sum_cents",
        )
    )


def topk_per_window(counts: DataFrame, *, k: int = 3) -> DataFrame:
    """Top-k heavy hitters per finalized window: rank users inside each
    window by (count DESC, cents DESC, user_id ASC) and keep k. Batch /
    foreachBatch step — one rank window partitioned by w_start (bounded
    per-window cardinality after the upstream aggregation)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("w_start").orderBy(
        F.col("n_events").desc(), F.col("sum_cents").desc(), F.col("user_id").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("w_start", "rank", "user_id", "n_events", "sum_cents")
    )


def view_click_full_outer_pairs(
    events: DataFrame, *, within: str = "30 minutes"
) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join (round 6 — completes the
    inner/left/full matrix): matched view→click pairs emit eagerly;
    an unmatched VIEW emits with null click columns once the watermark
    passes ``v_ts + within``; an unmatched CLICK (no preceding view in
    the window) emits with null view columns once the watermark passes
    its own state horizon. Both null classes are gated on provable state
    eviction — the same correctness contract as the left-outer variant,
    applied to both sides. The batch twin is the plain full outer join;
    the stream emits its watermark-settled prefix (both sides held back
    near end-of-stream — asserted in tests/test_streaming.py)."""
    views = with_watermark(events.filter(F.col("event_type") == "view")).select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    clicks = with_watermark(events.filter(F.col("event_type") == "click")).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
    )
    return views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {within}")),
        "fullOuter",
    ).select(
        F.coalesce(F.col("v_user"), F.col("c_user")).alias("user_id"),
        _ntz("v_ts", "v_ts"),
        _ntz("c_ts", "c_ts"),
        "c_value",
    )


def view_click_full_outer_coverage(
    events: DataFrame, *, within: str = "30 minutes"
) -> DataFrame:
    """Batch rollup of :func:`view_click_full_outer_pairs` per user:
    matched pairs, orphan views, orphan clicks, and attributed cents —
    the two-sided attribution ledger (outer joins can't feed an
    unwindowed aggregate in streaming mode; the streaming contract is
    tested on the pair stream itself)."""
    pairs = view_click_full_outer_pairs(events, within=within)
    cents = F.round(F.col("c_value") * 100, 0).cast("long")
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum((F.col("v_ts").isNotNull() & F.col("c_ts").isNotNull()).cast("int"))
        .cast("long")
        .alias("n_matched"),
        F.sum((F.col("c_ts").isNull()).cast("int")).cast("long").alias("n_orphan_views"),
        F.sum((F.col("v_ts").isNull()).cast("int")).cast("long").alias("n_orphan_clicks"),
        F.coalesce(F.sum(F.when(F.col("v_ts").isNotNull(), cents)), F.lit(0))
        .cast("long")
        .alias("attributed_cents"),
    )
