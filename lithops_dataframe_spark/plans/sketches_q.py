"""Sketch & probabilistic-filter queries (operators/sketches.py).

Verification regimes (see the operator module docstring):
- Bloom / CMS are md5-deterministic → FULL value-hash oracles (DuckDB
  replays every set bit / counter cell).
- HLL (Spark Datasketches) → tolerance-predicate gate: the query emits
  ok-booleans the oracle pins TRUE, alongside the exact values — an
  out-of-tolerance sketch fails the hash, matching the
  frame_describe_approx pattern (plans/describe_q.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lithops_dataframe_spark import cache

from lithops_dataframe_spark.catalog import load_table
from lithops_dataframe_spark.functions import hashing as H
from lithops_dataframe_spark.operators import sketches as SK
from lithops_dataframe_spark.operators.util import ensure_parallelism
from lithops_dataframe_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination
# ---------------------------------------------------------------------------
_BLOOM_M = 1 << 20
_BLOOM_K = 5
_EVAL_MOD = 97  # same eval split as decontaminate_ngram_overlap

_SH3 = H.word_shingles_sql("text", 3)

_BLOOM_ORACLE = f"""
    WITH t AS (SELECT doc_id, {_SH3} AS sh FROM documents),
    ev AS (
        SELECT DISTINCT unnest(sh) AS s FROM t WHERE doc_id % {_EVAL_MOD} = 0
    ),
    tr AS (
        SELECT doc_id, unnest(sh) AS s FROM t WHERE doc_id % {_EVAL_MOD} != 0
    )
    SELECT tr.doc_id, COUNT(*) AS n_hits
    FROM tr JOIN ev USING (s)
    GROUP BY tr.doc_id
"""


@register("decontaminate_bloom_prefilter", oracle=_BLOOM_ORACLE)
def decontaminate_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination with a Bloom prefilter: build an m=2^20,
    k=5 Bloom filter over the eval set's trigram shingles, probe every
    training shingle against it (broadcast of ≤ m/32 filter words — an
    O(bits) prefilter instead of an O(|eval|) shuffle join), then exact-
    verify only the bloom-positive candidates. Bloom filters have no false
    negatives, so prefilter + verify ≡ the exact join the oracle runs —
    the hash gate proves the whole composition.

    At 100 TB the eval/benchmark side is fixed and the filter is built
    once; every training scan probes it as a broadcast local filter,
    dropping ~all non-contaminated shingles before any shuffle."""
    from pyspark import StorageLevel

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    sh = docs.select("doc_id", H.word_shingles(F.col("text"), 3).alias("sh"))
    sh = cache.track(sh.persist(StorageLevel.MEMORY_AND_DISK))  # feeds eval + probe sides
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    ev = sh.filter(is_eval).select(F.explode("sh").alias("s")).distinct()
    # the filter frame is ≤ m/32 rows (~32k longs); persist so the k
    # broadcast probes reuse one build instead of recomputing the agg
    bloom = cache.track(
        SK.bloom_build(ev, "s", m_bits=_BLOOM_M, k=_BLOOM_K).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    train = sh.filter(~is_eval).select("doc_id", F.explode("sh").alias("s"))
    cand = SK.bloom_probe_hits(
        train, "s", bloom, m_bits=_BLOOM_M, k=_BLOOM_K, keep=["doc_id"]
    )
    # exact verify on the slim 60-bit hash key (candidates only)
    ev_h = ev.select(H.token_hash60(F.col("s")).alias("hs"))
    cand_h = cand.select("doc_id", H.token_hash60(F.col("s")).alias("hs"))
    return cand_h.join(ev_h, "hs").groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits"))


# ---------------------------------------------------------------------------
# Count-Min sketch token frequencies
# ---------------------------------------------------------------------------
_CMS_D = 4
_CMS_W = 2048
_CMS_TOPK = 15

# DuckDB replay of the whole sketch: same cells, same min-of-rows estimate.
_CMS_ORACLE = f"""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    cms AS (
        SELECT j.j AS r,
               (('0x' || substr(md5(token || '@' || j.j::VARCHAR), 1, 15))::BIGINT
                   % {_CMS_W}) AS c,
               COUNT(*) AS cnt
        FROM tok, (SELECT unnest(range({_CMS_D})) AS j) j
        GROUP BY 1, 2
    ),
    top AS (
        SELECT token, COUNT(*) AS exact_cnt
        FROM tok GROUP BY token
        ORDER BY exact_cnt DESC, token
        LIMIT {_CMS_TOPK}
    ),
    probes AS (
        SELECT top.token, top.exact_cnt, j.j AS r,
               (('0x' || substr(md5(top.token || '@' || j.j::VARCHAR), 1, 15))::BIGINT
                   % {_CMS_W}) AS c
        FROM top, (SELECT unnest(range({_CMS_D})) AS j) j
    )
    SELECT probes.token,
           probes.exact_cnt::BIGINT AS exact_cnt,
           MIN(COALESCE(cms.cnt, 0))::BIGINT AS cms_est,
           (MIN(COALESCE(cms.cnt, 0)) >= probes.exact_cnt) AS overcount_ok
    FROM probes LEFT JOIN cms ON cms.r = probes.r AND cms.c = probes.c
    GROUP BY probes.token, probes.exact_cnt
"""


@register("sketch_cms_token_freq", oracle=_CMS_ORACLE)
def sketch_cms_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter frequency estimation with a from-scratch Count-Min
    sketch (depth 4 × width 2048 — fixed-size mergeable state): build the
    sketch over the full token stream with one explode+groupBy, estimate
    the top-15 exact heavy hitters through it, and emit est alongside
    exact. md5 hashing makes every counter cell identical in DuckDB, so
    the estimates themselves are hash-checked (plus the est ≥ exact CMS
    invariant as an explicit boolean)."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(F.split("text", " ")).alias("token"))
    cms = SK.cms_build(tok, "token", depth=_CMS_D, width=_CMS_W)
    top = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "token")
        .limit(_CMS_TOPK)
    )
    est = SK.cms_estimate(top.select("token"), "token", cms, depth=_CMS_D, width=_CMS_W)
    return top.join(est, "token").select(
        "token",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_cnt")).alias("overcount_ok"),
    )


# ---------------------------------------------------------------------------
# HLL sketch union (Datasketches) — tolerance gate
# ---------------------------------------------------------------------------
_HLL_ORACLE = """
    SELECT event_type AS scope,
           COUNT(DISTINCT user_id)::BIGINT AS exact_users,
           TRUE AS est_ok
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__all__', COUNT(DISTINCT user_id)::BIGINT, TRUE FROM events
"""


@register("sketch_hll_union_by_type", oracle=_HLL_ORACLE)
def sketch_hll_union_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-cardinality path: one Datasketches HLL sketch per
    event_type (hll_sketch_agg), global cardinality from the UNION of the
    partial sketches (hll_union_agg) — never re-scanning the raw data.
    This is how 100 TB distinct-counts roll up (per-partition/per-day
    sketches merged upward). Gate: each estimate must sit within 8% + 5 of
    the exact distinct count (default lgConfigK=12 → σ≈1.6%, so 5σ);
    the oracle pins est_ok TRUE and hash-checks the exact counts."""
    ev = load_table(spark, sf_dir, "events")
    types = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    tol = lambda est, exact: (  # noqa: E731
        F.abs(est - exact) <= F.greatest(F.lit(5.0), F.lit(0.08) * exact)
    )
    t_rows = types.select(
        F.col("event_type").alias("scope"),
        "exact_users",
        tol(F.hll_sketch_estimate("sk"), F.col("exact_users")).alias("est_ok"),
    )
    merged = types.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    g = ev.agg(F.count_distinct("user_id").alias("exact_users"))
    all_row = g.crossJoin(merged).select(
        F.lit("__all__").alias("scope"),
        "exact_users",
        tol(F.col("est"), F.col("exact_users")).alias("est_ok"),
    )
    return t_rows.unionAll(all_row)


# ---------------------------------------------------------------------------
# Theta sketches — set-operation cardinality estimation (round 4)
# ---------------------------------------------------------------------------

_THETA_ORACLE = f"""
    WITH t AS (SELECT doc_id, {_SH3} AS sh FROM documents),
    ev AS (SELECT DISTINCT unnest(sh) AS s FROM t WHERE doc_id % {_EVAL_MOD} = 0),
    tr AS (SELECT DISTINCT unnest(sh) AS s FROM t WHERE doc_id % {_EVAL_MOD} != 0)
    SELECT (SELECT COUNT(*) FROM ev)::BIGINT AS exact_eval,
           (SELECT COUNT(*) FROM tr)::BIGINT AS exact_train,
           (SELECT COUNT(*) FROM ev JOIN tr USING (s))::BIGINT AS exact_overlap,
           TRUE AS inter_ok, TRUE AS union_ok, TRUE AS diff_ok
"""


@register("sketch_theta_overlap_estimate", oracle=_THETA_ORACLE)
def sketch_theta_overlap_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination overlap ESTIMATION via Datasketches theta sketches
    (Spark 4 theta_sketch_agg / theta_intersection / theta_union /
    theta_difference): |train ∩ eval|, |train ∪ eval| and |eval \\ train|
    shingle cardinalities from two fixed-size sketches — no join between
    the sides at all. This is the triage step before the exact
    (bloom-prefiltered) decontamination join at 100 TB: sketches are a few
    KB per side and mergeable across partitions/days, so "how contaminated
    is this dump?" costs two scans and a constant-size merge. Gate: each
    estimate within 15% + 10 of the exact set-op cardinality. The
    intersection bound is the loose one BY THEORY: when the larger side
    samples at θ, a small true intersection I is observed as ~I·θ items,
    so RSE ≈ 1/sqrt(I·θ) — at this fixture (I≈146, train≈16k) the default
    lgNomEntries=12 gave ~17% error, hence lgNomEntries=14 and the wide
    gate; the oracle recomputes the exact cardinalities and pins the
    booleans."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    sh = docs.select("doc_id", F.explode(H.word_shingles(F.col("text"), 3)).alias("s"))
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    ev = sh.filter(is_eval).select("s")
    tr = sh.filter(~is_eval).select("s")
    sks = (
        ev.agg(F.theta_sketch_agg("s", 14).alias("ske"))
        .crossJoin(tr.agg(F.theta_sketch_agg("s", 14).alias("skt")))
    )
    est = sks.select(
        F.theta_sketch_estimate(F.theta_intersection("ske", "skt")).alias("inter_est"),
        F.theta_sketch_estimate(F.theta_union("ske", "skt")).alias("union_est"),
        F.theta_sketch_estimate(F.theta_difference("ske", "skt")).alias("diff_est"),
    )
    evd, trd = ev.distinct(), tr.distinct()
    exact = (
        evd.agg(F.count(F.lit(1)).alias("exact_eval"))
        .crossJoin(trd.agg(F.count(F.lit(1)).alias("exact_train")))
        .crossJoin(evd.join(trd, "s").agg(F.count(F.lit(1)).alias("exact_overlap")))
    )
    tol = lambda est, ex: F.abs(est - ex) <= F.greatest(  # noqa: E731
        F.lit(10.0), F.lit(0.15) * ex
    )
    return exact.crossJoin(est).select(
        "exact_eval",
        "exact_train",
        "exact_overlap",
        tol(F.col("inter_est"), F.col("exact_overlap")).alias("inter_ok"),
        tol(
            F.col("union_est"),
            F.col("exact_eval") + F.col("exact_train") - F.col("exact_overlap"),
        ).alias("union_ok"),
        tol(F.col("diff_est"), F.col("exact_eval") - F.col("exact_overlap")).alias(
            "diff_ok"
        ),
    )


# ---------------------------------------------------------------------------
# KLL quantile sketches — mergeable distribution summaries (round 4)
# ---------------------------------------------------------------------------

_KLL_EPS = 0.013  # k=200 default: normalized rank error ~1.3% (one-sided)

_KLL_ORACLE = """
    SELECT event_type,
           COUNT(value)::BIGINT AS n,
           TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q75_ok
    FROM events WHERE value IS NOT NULL GROUP BY event_type
"""


@register("sketch_kll_quantiles_by_type", oracle=_KLL_ORACLE)
def sketch_kll_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantiles via Spark 4 KLL sketches: one
    kll_sketch_agg_double per event_type, quantiles read off the sketch —
    the rollup-friendly alternative to approx_percentile (KLL partials
    merge across days/partitions with kll_merge_agg, so a year of daily
    sketches answers any window's quantiles without rescanning). Gate: the
    NORMALIZED RANK of each sketch quantile — rank(est)/n, computed
    exactly against the data — must sit within 3× the k=200 rank error
    (±3.9%) of the target fraction; the oracle pins the booleans and
    hash-checks the group counts."""
    # a series with ZERO non-null values has no distribution to sketch:
    # kll_sketch_get_quantile on the empty sketch throws
    # (kllInvalidInputSketchBuffer), so such groups are excluded on both
    # engines (edge-fixture r8; the oracle filters value IS NOT NULL)
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("v")
    ).filter(F.col("v").isNotNull())
    sk = ev.groupBy("event_type").agg(
        F.kll_sketch_agg_double("v").alias("sk"), F.count("v").alias("n")
    )
    qs = sk.select(
        "event_type",
        "n",
        *[
            F.kll_sketch_get_quantile_double("sk", F.lit(f)).alias(f"q{int(f*100)}")
            for f in (0.25, 0.50, 0.75)
        ],
    )
    # exact normalized ranks of each estimated quantile, one aggregate
    # pass; null values are excluded on BOTH ends (the sketch never saw
    # them, and count(v) is the oracle's COUNT(value) denominator).
    # BOTH strict and inclusive ranks: with tied values the inclusive
    # rank jumps by the whole tie-run size (r11 edge row: two 2.675
    # clicks made |rank - f| overshoot any 1/n quantization term), so
    # the correct acceptance is the two-sided interval below, not a
    # distance-from-f with a fudge term.
    ranked = ev.filter(F.col("v").isNotNull()).join(
        F.broadcast(qs), "event_type"
    ).groupBy("event_type").agg(
        *[
            c
            for p in (25, 50, 75)
            for c in (
                (
                    F.sum(F.when(F.col("v") < F.col(f"q{p}"), 1).otherwise(0))
                    / F.count("v")
                ).alias(f"rlt{p}"),
                (
                    F.sum(F.when(F.col("v") <= F.col(f"q{p}"), 1).otherwise(0))
                    / F.count("v")
                ).alias(f"rle{p}"),
            )
        ]
    )
    # q is a valid (f ± eps)-quantile iff P(v < q) <= f + eps AND
    # P(v <= q) >= f - eps — the textbook definition; tie runs and
    # between-rank targets are inside the interval by construction
    eps = 3 * _KLL_EPS
    out = qs.join(ranked, "event_type").select(
        "event_type",
        "n",
        *[
            (
                (F.col(f"rlt{p}") <= F.lit(p / 100.0) + F.lit(eps))
                & (F.col(f"rle{p}") >= F.lit(p / 100.0) - F.lit(eps))
            ).alias(f"q{p}_ok")
            for p in (25, 50, 75)
        ],
    )
    return out


# ---------------------------------------------------------------------------
# Sketch-partial rollup — the production cardinality pattern (round 4)
# ---------------------------------------------------------------------------

_SK_ROLLUP_ORACLE = """
    SELECT event_type,
           COUNT(DISTINCT user_id)::BIGINT AS exact_users,
           TRUE AS est_ok
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-21'
    GROUP BY event_type
    UNION ALL
    SELECT '__all__', COUNT(DISTINCT user_id)::BIGINT, TRUE
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-21'
"""


@register("rollup_sketch_hll_daily", oracle=_SK_ROLLUP_ORACLE)
def rollup_sketch_hll_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production distinct-count rollup: (day, event_type) HLL sketch
    PARTIALS are materialized once into a parquet rollup table (binary
    sketch column — proves the Datasketches payload survives the
    writer/reader round trip), and an arbitrary date window is then
    answered by hll_union_agg over the partials ONLY — the raw events are
    never rescanned at query time. At 100 TB this turns "distinct users,
    any window, any grouping rollup" into a scan of a few thousand
    kilobyte-sized rows. Gate: window estimates per type and overall
    within 8% + 5 of the exact distinct counts (recomputed from raw for
    the gate; the oracle replays them and pins est_ok TRUE)."""
    import os

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    path = os.path.join(cache.scratch("skrollup"), "daily_hll")
    daily.write.mode("overwrite").parquet(path)

    lo, hi = F.lit("2024-01-05").cast("timestamp"), F.lit("2024-01-21").cast("timestamp")
    part = spark.read.parquet(path).filter((F.col("day") >= lo) & (F.col("day") < hi))
    per_type = part.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    overall = part.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).select(F.lit("__all__").alias("event_type"), "est")

    win = ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
    exact_t = win.groupBy("event_type").agg(F.count_distinct("user_id").alias("exact_users"))
    exact_all = win.agg(F.count_distinct("user_id").alias("exact_users")).select(
        F.lit("__all__").alias("event_type"), "exact_users"
    )

    tol = lambda est, ex: F.abs(est - ex) <= F.greatest(  # noqa: E731
        F.lit(5.0), F.lit(0.08) * ex
    )
    t_rows = per_type.join(exact_t, "event_type").select(
        "event_type", "exact_users", tol(F.col("est"), F.col("exact_users")).alias("est_ok")
    )
    a_row = overall.join(exact_all, "event_type").select(
        "event_type", "exact_users", tol(F.col("est"), F.col("exact_users")).alias("est_ok")
    )
    return t_rows.unionAll(a_row)
