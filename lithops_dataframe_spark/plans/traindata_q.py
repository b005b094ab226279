"""Training-data plumbing queries: a true Python UDTF (table function with
LATERAL correlation — the one UDF shape §2.9 still lacked a native
instance of) and the deterministic train/val/test splitter every corpus
pipeline needs.

Reference basis: the reference's only UDF surface is row-wise
``apply(axis=1)`` (/root/reference/dataframe/core.py:171-262); UDTF-shaped
row explosion and dataset splitting are north-star pipeline additions.

Scale notes:
- The UDTF runs arrow-batched (``useArrow=True``) and is partition-local —
  no shuffle until the final small aggregate.
- The splitter is a pure narrow map (md5 of the key, mod 10) — zero
  shuffle to assign, one tiny exchange for the audit counts. At 100 TB the
  assignment cost is the scan itself; the same expression works as a
  partition column for a sharded write. Deterministic-by-key means
  re-runs and incremental appends land rows in the same split (no RNG,
  no seed state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lithops_dataframe_spark import cache
from lithops_dataframe_spark.catalog import load_table
from lithops_dataframe_spark.functions import hashing as H
from lithops_dataframe_spark.functions import text as T
from lithops_dataframe_spark.operators import sampling as SA
from lithops_dataframe_spark.operators.util import ensure_parallelism, values_frame
from lithops_dataframe_spark.plans.registry import register


@register(
    "udtf_long_token_index",
    oracle="""
    WITH toks AS (
        SELECT doc_id, i - 1 AS pos, words[i] AS token
        FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
             LATERAL (SELECT unnest(range(1, len(words) + 1)) AS i)
    )
    SELECT token,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occ,
           MIN(pos) AS first_pos
    FROM toks
    WHERE length(token) >= 5
    GROUP BY token
    """,
)
def udtf_long_token_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark ≥3.5 table function) exploding each document
    into (pos, token) rows via LATERAL correlation, aggregated into an
    index of tokens of length ≥5 (the fixture vocabulary is short word
    soup). The UDTF is arrow-batched and stateless; the lateral join is
    partition-local (no shuffle before the aggregate)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string", useArrow=True)
    class LongTokens:
        def eval(self, text: str):
            if text is None:
                return
            for i, tok in enumerate(text.split(" ")):
                if len(tok) >= 5:
                    yield i, tok

    spark.udtf.register("long_tokens", LongTokens)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(cache.temp_view(spark, "docs_udtf"))
    return spark.sql(
        """
        SELECT t.token,
               COUNT(DISTINCT d.doc_id) AS n_docs,
               COUNT(*) AS n_occ,
               MIN(t.pos) AS first_pos
        FROM docs_udtf d, LATERAL long_tokens(d.text) t
        GROUP BY t.token
        """
    )


@register(
    "split_train_val_test",
    oracle="""
    WITH assigned AS (
        SELECT lang,
               CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split,
               n_chars
        FROM (SELECT lang, n_chars,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 AS b
              FROM documents)
    )
    SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY 1, 2
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by key hash
    (md5 of doc_id — identical on both engines, see functions/hashing.py
    rationale), audited as per-(split, lang) doc and char counts.

    The assignment column is a narrow map usable directly as a
    ``partitionBy`` write key; hash-by-key (not row position) keeps the
    split stable under repartitioning, re-runs, and incremental appends."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
        "long"
    ) % 10
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


# per-language keep rates (per-mille) for the rebalance: downsample the
# dominant languages, keep the tail intact — the standard corpus-mixing move.
_KEEP_PERMILLE = {"en": 300, "de": 600, "fr": 600, "es": 800, "zh": 1000}
_DEFAULT_PERMILLE = 1000


@register(
    "split_stratified_rebalance",
    oracle=f"""
    WITH hashed AS (
        SELECT lang, n_chars,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS h
        FROM documents
    ),
    flagged AS (
        SELECT lang, n_chars,
               CASE lang
                   {' '.join(f"WHEN '{lang}' THEN CASE WHEN h < {pm} THEN 1 ELSE 0 END"
                             for lang, pm in _KEEP_PERMILLE.items())}
                   ELSE CASE WHEN h < {_DEFAULT_PERMILLE} THEN 1 ELSE 0 END
               END AS kept
        FROM hashed
    )
    SELECT lang,
           COUNT(*) AS n_total,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(SUM(kept * n_chars) AS BIGINT) AS kept_chars
    FROM flagged GROUP BY lang
    """,
)
def split_stratified_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling (corpus rebalancing): each
    language keeps ``_KEEP_PERMILLE[lang]``/1000 of its documents, chosen
    by key hash (md5(doc_id) mod 1000 < rate), not RNG — so re-runs,
    repartitioning, and incremental appends keep/drop the SAME documents
    (the property ``df.sampleBy`` cannot give you), and the audit below is
    hash-checkable cross-engine.

    Scale shape: one narrow map to flag, one aggregate to audit — the
    flag column doubles as the filter for the actual write path. Skewed
    language distribution costs nothing: the hash is uniform within each
    stratum by construction."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
        "long"
    ) % 1000
    rate = F.lit(_DEFAULT_PERMILLE)
    for lang, pm in _KEEP_PERMILLE.items():
        rate = F.when(F.col("lang") == lang, F.lit(pm)).otherwise(rate)
    kept = F.when(h < rate, F.lit(1)).otherwise(F.lit(0))
    return (
        docs.withColumn("kept", kept)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").alias("n_kept"),
            F.sum(F.col("kept") * F.col("n_chars")).alias("kept_chars"),
        )
    )


# chunking geometry: 32-token windows, stride 24 (8-token overlap) — the
# tokenize-and-pack shape every pretraining pipeline runs before writing
# training shards.
_CHUNK_TOKENS = 32
_CHUNK_STRIDE = 24


@register(
    "chunk_documents_overlap",
    oracle=f"""
    WITH t AS (SELECT doc_id, {T.ws_tokens_sql('text')} AS toks FROM documents),
    s AS (
        SELECT doc_id, toks,
               unnest(generate_series(0, len(toks) - 1, {_CHUNK_STRIDE})) AS strt
        FROM t
    )
    SELECT doc_id,
           (strt // {_CHUNK_STRIDE})::INT AS chunk_idx,
           len(list_slice(toks, strt + 1, strt + {_CHUNK_TOKENS}))::BIGINT AS n_chunk_tokens,
           md5(array_to_string(list_slice(toks, strt + 1, strt + {_CHUNK_TOKENS}), ' ')) AS chunk_fp
    FROM s
    """,
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: split each document into
    ``_CHUNK_TOKENS``-token windows advancing by ``_CHUNK_STRIDE`` tokens
    (trailing chunks may be short), emitting (doc_id, chunk_idx, length,
    chunk fingerprint) rows — the context-window packing step between
    cleaning and shard writing.

    Scale shape: pure narrow map — tokenize once, generate the start
    offsets with ``sequence`` and ``posexplode`` them, slice the token
    array per chunk. Zero shuffles; output rows ≈ tokens/stride per doc.
    The md5 chunk fingerprint (32 bytes) stands in for the chunk payload
    downstream consumers would write, and doubles as the chunk-level
    exact-dedup key."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", T.ws_tokens(F.col("text")).alias("toks"))
    exploded = toks.select(
        "doc_id",
        "toks",
        F.posexplode(
            F.sequence(F.lit(0), F.size("toks") - 1, F.lit(_CHUNK_STRIDE))
        ).alias("chunk_idx", "strt"),
    )
    chunk = F.slice(F.col("toks"), F.col("strt") + 1, F.lit(_CHUNK_TOKENS))
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_fp"),
    )


# decontamination: trigram-shingle overlap against the held-out subset
# doc_id % 97 == 0 (stand-in for a benchmark suite); flag train docs whose
# shingle overlap fraction reaches the threshold.
_DECON_MOD = 97
_DECON_MIN_FRAC = 0.05
_SH3 = H.word_shingles_sql("text", 3)


@register(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SH3} AS sh FROM documents),
    ev AS (
        SELECT DISTINCT {H.token_hash60_sql('s')} AS hs
        FROM (SELECT unnest(sh) AS s FROM t WHERE doc_id % {_DECON_MOD} = 0)
    ),
    tr AS (
        SELECT doc_id, {H.token_hash60_sql('s')} AS hs
        FROM (SELECT doc_id, unnest(sh) AS s FROM t WHERE doc_id % {_DECON_MOD} != 0)
    ),
    hits AS (
        SELECT tr.doc_id, COUNT(*) AS n_hits
        FROM tr JOIN ev ON tr.hs = ev.hs GROUP BY tr.doc_id
    ),
    sz AS (SELECT doc_id, len(sh) AS n_shingles FROM t WHERE doc_id % {_DECON_MOD} != 0)
    SELECT sz.doc_id,
           n_hits,
           n_shingles::BIGINT AS n_shingles,
           ROUND(n_hits::DOUBLE / n_shingles, 4) AS overlap_frac
    FROM hits JOIN sz ON sz.doc_id = hits.doc_id
    WHERE n_hits::DOUBLE / n_shingles >= {_DECON_MIN_FRAC}
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents whose trigram
    shingles overlap a held-out evaluation set (here the deterministic
    subset doc_id % 97 == 0) above ``_DECON_MIN_FRAC``.

    Scale shape: both sides explode to (doc, shingle-hash) postings and
    equi-join on the 60-bit token hash — an 8-byte join key instead of the
    shingle string, so the shuffle carries ids+hashes only. In production
    the eval side is a FIXED benchmark suite (bounded by construction) and
    takes a broadcast hint; here it scales with the corpus, so the join is
    left to AQE. Same hash constants as minhash (functions/hashing.py) →
    bit-identical DuckDB oracle."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    sh = docs.select("doc_id", H.word_shingles(F.col("text"), 3).alias("sh"))
    sh = cache.persist_tracked(sh)  # feeds eval + postings + sizes
    is_eval = F.col("doc_id") % _DECON_MOD == 0
    ev = (
        sh.filter(is_eval)
        .select(F.explode("sh").alias("s"))
        .select(H.token_hash60(F.col("s")).alias("hs"))
        .distinct()
    )
    train = sh.filter(~is_eval)
    post = train.select("doc_id", F.explode("sh").alias("s")).select(
        "doc_id", H.token_hash60(F.col("s")).alias("hs")
    )
    hits = post.join(ev, "hs").groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits"))
    sizes = train.select("doc_id", F.size("sh").cast("long").alias("n_shingles"))
    frac = F.col("n_hits") / F.col("n_shingles")
    return (
        hits.join(sizes, "doc_id")
        .filter(frac >= _DECON_MIN_FRAC)
        .select(
            "doc_id",
            "n_hits",
            "n_shingles",
            F.round(frac, 4).alias("overlap_frac"),
        )
    )


_SAMPLE_K = 10
_PPS_K = 100

# The oracle replays the engine's exact integer arithmetic: same inclusive
# prefix sum over the same canonical order, same step = W // k, same
# offset-by-step floor divisions (all operands non-negative, so DuckDB's
# floor // equals Spark's truncating div).
_PPS_ORACLE = f"""
    WITH w AS (SELECT doc_id AS id, n_chars::BIGINT AS w FROM documents),
    tot AS (SELECT GREATEST(1, SUM(w) // {_PPS_K})::BIGINT AS step FROM w),
    c AS (
        SELECT id, w,
               (SUM(w) OVER (ORDER BY id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW))::BIGINT AS c_incl
        FROM w
    )
    SELECT id, w, c_incl,
           ((c_incl - 1 + t.step) // t.step)
             - ((c_incl - w - 1 + t.step) // t.step) AS n_picks
    FROM c, tot t
    WHERE ((c_incl - 1 + t.step) // t.step)
            - ((c_incl - w - 1 + t.step) // t.step) >= 1
"""


@register("sample_systematic_weighted", oracle=_PPS_ORACLE)
def sample_systematic_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PPS (probability-proportional-to-size) sampling
    (round 6): one pick every ``W div k`` weight units along the corpus'
    cumulative n_chars line, canonical doc_id order — the data-mixing
    primitive for char-budgeted training slices, with heavy documents
    legitimately picked multiple times (n_picks ≥ 2). No RNG anywhere:
    pure integer arithmetic, bit-identical across runs, layouts, and
    engines. The inclusive prefix sum is the two-phase range-partition +
    broadcast-carry pattern (operators/sampling.py) — no single-task
    window at any scale."""
    from lithops_dataframe_spark.operators.sampling import (
        systematic_weighted_sample,
    )

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return systematic_weighted_sample(docs, "n_chars", "doc_id", k=_PPS_K)


@register(
    "sample_k_per_stratum",
    oracle=f"""
    WITH ranked AS (
        SELECT lang, doc_id,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    )
    SELECT lang, doc_id, rk::INT AS rk FROM ranked WHERE rk <= {_SAMPLE_K}
    """,
)
def sample_k_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform sample of exactly K documents per stratum
    (language): rank by md5(doc_id) within the stratum, keep the first K —
    the eval-set / inspection-sample constructor.

    Unlike ``df.sample``/``sampleBy`` (RNG per partition, count only in
    expectation, unstable under re-runs), hash-ranking gives exactly K
    rows per stratum and the SAME K on every run and layout. One shuffle
    on the stratum key; Spark pushes the rank filter into the sort as
    WindowGroupLimit (top-K per group, never a full sort of the stratum)."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _SAMPLE_K)
        .select("lang", "doc_id", F.col("rk").cast("int").alias("rk"))
    )


_PACK_BUDGET = 256  # tokens per training sequence
_PACK_BUCKETS = 8  # parallel packing streams


_PACK_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, doc_id % {_PACK_BUCKETS} AS bucket,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    placed AS (
        SELECT bucket, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS start_off
        FROM d
    )
    SELECT bucket::INT AS bucket,
           (start_off // {_PACK_BUDGET})::INT AS pack_id,
           COUNT(*) AS n_docs,
           SUM(n_tokens)::BIGINT AS pack_tokens,
           ROUND(SUM(n_tokens)::DOUBLE / {_PACK_BUDGET}, 6) AS fill_ratio
    FROM placed GROUP BY bucket, pack_id
"""


@register("pack_training_sequences", oracle=_PACK_ORACLE)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: place whole documents into fixed token-budget
    training examples (budget _PACK_BUDGET = 256) by token offset — each
    doc lands in the pack where its cumulative start offset falls, so
    examples keep document boundaries (overflow drifts into the next pack,
    the standard boundary-respecting packing policy before truncation).

    Scale shape: packing is inherently sequential, so it is streamed in
    _PACK_BUCKETS = 8 deterministic parallel streams (bucket = doc_id mod
    streams): one hash shuffle on bucket, a per-bucket window cumsum, and a
    tiny per-pack rollup. At 100 TB raise the stream count to the write
    parallelism — pack ids stay deterministic under re-runs (no RNG), so
    incremental rebuilds are stable."""
    from pyspark.sql.window import Window

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    d = docs.select(
        "doc_id",
        (F.col("doc_id") % _PACK_BUCKETS).alias("bucket"),
        F.size(T.ws_tokens(F.col("text"))).alias("n_tokens"),
    )
    w = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    placed = d.withColumn("start_off", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return (
        placed.groupBy(
            F.col("bucket").cast("int").alias("bucket"),
            (F.col("start_off") / _PACK_BUDGET).cast("int").alias("pack_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("pack_tokens"),
            F.round(F.sum("n_tokens").cast("double") / _PACK_BUDGET, 6).alias("fill_ratio"),
        )
    )


_TEMP_ALPHA = 0.5  # sampling temperature: w_s ∝ n_s^alpha
_TEMP_BUDGET = 200  # target corpus size in documents


_TEMP_ORACLE = f"""
    WITH counts AS (
        SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    wts AS (
        SELECT source, n_docs,
               POW(n_docs, {_TEMP_ALPHA}) / SUM(POW(n_docs, {_TEMP_ALPHA})) OVER () AS w
        FROM counts
    )
    SELECT source, n_docs,
           ROUND(w, 6) AS weight,
           ROUND({_TEMP_BUDGET} * w, 2) AS expected_docs,
           ROUND(least(1.0, {_TEMP_BUDGET} * w / n_docs), 6) AS keep_rate
    FROM wts
"""


@register("sample_temperature_weights", oracle=_TEMP_ORACLE)
def sample_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source resampling (the multilingual/multi-source
    mixing rule): per-source weight n^alpha normalized over sources, the
    expected document count at a fixed budget, and the per-source keep
    rate — the plan a curriculum/mixture stage feeds into the
    deterministic hash gate (split_stratified_rebalance applies exactly
    such per-stratum rates).

    Scale shape: one hash agg to source-level counts (tiny), an
    unpartitioned window over the per-source rows only (dozens of rows —
    the empty partitionBy is over an already-aggregated frame, not the
    corpus), zero extra passes over documents."""
    from pyspark.sql.window import Window

    counts = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w_all = Window.partitionBy()
    wcol = F.pow("n_docs", F.lit(_TEMP_ALPHA)) / F.sum(
        F.pow("n_docs", F.lit(_TEMP_ALPHA))
    ).over(w_all)
    return counts.select(
        "source",
        "n_docs",
        F.round(wcol, 6).alias("weight"),
        F.round(F.lit(_TEMP_BUDGET) * wcol, 2).alias("expected_docs"),
        F.round(F.least(F.lit(1.0), F.lit(_TEMP_BUDGET) * wcol / F.col("n_docs")), 6).alias(
            "keep_rate"
        ),
    )


_MIX_BUDGET = 200  # epoch budget in documents

# Deterministic weighted-round-robin epoch: quotas k_s = min(n_s,
# budget·⌊√n_s⌋ div Σ⌊√n⌋), per-source md5 pick order, serve order
# (r/k_s, source). The oracle assigns epoch_pos with a naive global
# ROW_NUMBER over the virtual-time double; the engine computes the same
# rank in closed form with integer arithmetic (operators/sampling.py::
# weighted_interleave_epoch) — distinct rationals r/k with k ≤ budget
# cannot collide in doubles, so the two orderings agree exactly.
_MIX_ORACLE = f"""
    WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
    wts AS (SELECT source, n, CAST(floor(sqrt(n)) AS BIGINT) AS w FROM counts),
    ks AS (
        SELECT source,
               LEAST(n, ({_MIX_BUDGET} * w) // (SELECT SUM(w) FROM wts)) AS k
        FROM wts
    ),
    ranked AS (
        SELECT d.doc_id, d.source, ks.k,
               ROW_NUMBER() OVER (
                   PARTITION BY d.source
                   ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS r
        FROM documents d JOIN ks USING (source)
        WHERE ks.k >= 1
    ),
    sel AS (SELECT * FROM ranked WHERE r <= k)
    SELECT doc_id, source, r,
           ROW_NUMBER() OVER (ORDER BY r * 1.0 / k, source) AS epoch_pos
    FROM sel
"""


@register("mix_interleave_epoch", oracle=_MIX_ORACLE)
def mix_interleave_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-weighted dataset mixing (round 6): materialize
    one training epoch — which documents, and in what interleaved order —
    from integer-exact temperature-0.5 source quotas. The epoch position
    is a weighted-round-robin rank computed in CLOSED FORM (per-row
    integer arithmetic against the broadcast quota table), so the engine
    needs one per-source window and zero global sorts, while the oracle
    proves equivalence to the naive global ROW_NUMBER formulation."""
    docs = load_table(spark, sf_dir, "documents")
    out = SA.weighted_interleave_epoch(docs, "source", "doc_id", budget=_MIX_BUDGET)
    return out.select(F.col("id").alias("doc_id"), "source", "r", "epoch_pos")


# Multi-epoch mixture schedule (round 8): three annealed epochs —
# uniform → ⌊√n⌋ (temperature 0.5) → natural — sampling WITHOUT
# replacement across epochs: each epoch continues down the per-source
# md5 pick order where the previous stopped, wrapping mod n_s. The
# oracle computes quotas/offsets relationally (windowed cumulative
# consumed-count per source) and assigns epoch_pos with the naive
# per-epoch ROW_NUMBER over the virtual-time double; the engine computes
# the identical rank in closed form (distinct rationals r/k, k ≤ budget,
# cannot collide in doubles — the proven mix_interleave_epoch argument).
_EPOCH_SCHED_ORACLE = f"""
    WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
    sched AS (SELECT unnest(range(3)) AS e),
    wts AS (
        SELECT e, source, n,
               CASE e WHEN 0 THEN 1
                      WHEN 1 THEN CAST(floor(sqrt(n)) AS BIGINT)
                      ELSE n END AS w
        FROM counts, sched
    ),
    tw AS (SELECT e, SUM(w) AS tws FROM wts GROUP BY e),
    ks AS (
        SELECT wts.e, source, n,
               LEAST(n, ({_MIX_BUDGET} * w) // tws) AS k
        FROM wts JOIN tw ON tw.e = wts.e
    ),
    cum AS (
        SELECT e, source, n, k,
               (COALESCE(SUM(k) OVER (PARTITION BY source ORDER BY e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                % n) AS c
        FROM ks
    ),
    eligible AS (SELECT * FROM cum WHERE k >= 1),
    ranked AS (
        SELECT d.doc_id, d.source,
               ROW_NUMBER() OVER (PARTITION BY d.source
                   ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS r
        FROM documents d
    ),
    sel AS (
        SELECT el.e, rk.doc_id, el.source, el.k,
               ((rk.r - 1 - el.c) % el.n + el.n) % el.n + 1 AS sel_rank
        FROM ranked rk JOIN eligible el ON el.source = rk.source
        WHERE ((rk.r - 1 - el.c) % el.n + el.n) % el.n < el.k
    )
    SELECT e::INT AS epoch, doc_id, source, sel_rank::BIGINT AS sel_rank,
           (ROW_NUMBER() OVER (PARTITION BY e
                ORDER BY sel_rank * 1.0 / k, source))::BIGINT AS epoch_pos
    FROM sel
"""


@register("mix_epoch_schedule", oracle=_EPOCH_SCHED_ORACLE)
def mix_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch mixture scheduling (round 8, VERDICT r7 task 6):
    materialize a THREE-epoch training schedule with an annealed source
    curriculum — uniform, then temperature-0.5, then natural proportions
    — where sampling is without replacement ACROSS epochs (each epoch
    resumes every source's deterministic md5 pick order where the
    previous epochs stopped, wrapping only when a source is exhausted).
    Output: every (epoch, document) served, its within-epoch serve rank
    and its closed-form weighted-round-robin epoch position — the
    manifest a multi-epoch dataloader consumes.

    Scale shape (operators/sampling.py::multi_epoch_interleave): ONE
    persisted rank window over the corpus shared by all epochs, per-epoch
    quota/offset tables as driver-sized broadcast model state, and the
    same one-fold closed-form position as mix_interleave_epoch — epochs
    add narrow projections, never corpus re-shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    out = SA.multi_epoch_interleave(docs, "source", "doc_id", budget=_MIX_BUDGET)
    return out.select(
        "epoch", F.col("id").alias("doc_id"), "source", "sel_rank", "epoch_pos"
    )


_CHUNK_LEN = 320  # context-window length (tokens) for concat-and-chunk

_CONCAT_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
        FROM documents
    ),
    placed AS (
        SELECT doc_id, n_tokens,
               (SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                - n_tokens)::BIGINT AS s
        FROM d
    ),
    spans AS (
        SELECT doc_id, s, (s + n_tokens)::BIGINT AS e,
               (s // {_CHUNK_LEN})::BIGINT AS fc,
               ((s + n_tokens - 1) // {_CHUNK_LEN})::BIGINT AS lc
        FROM placed
    ),
    expanded AS (
        SELECT doc_id, s, e, fc, cid
        FROM spans, UNNEST(range(fc, lc + 1)) AS t(cid)
    )
    SELECT cid::BIGINT AS chunk_id,
           COUNT(*)::BIGINT AS n_docs,
           SUM(CASE WHEN cid > fc THEN 1 ELSE 0 END)::BIGINT AS n_spanning,
           SUM(LEAST(e, (cid + 1) * {_CHUNK_LEN})
               - GREATEST(s, cid * {_CHUNK_LEN}))::BIGINT AS chunk_tokens,
           MIN(doc_id)::BIGINT AS first_doc,
           MAX(doc_id)::BIGINT AS last_doc
    FROM expanded GROUP BY cid
"""


@register("pack_concat_chunks", oracle=_CONCAT_ORACLE)
def pack_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk packing manifest — the OTHER packing
    policy (complement of pack_training_sequences' boundary-respecting
    streams): the corpus is one virtual token stream in doc_id order,
    cut every _CHUNK_LEN tokens, and documents SPAN chunk boundaries.
    Each chunk reports its document membership, how many docs continued
    across its left boundary (the attention-masking statistic), its
    exact token fill (always _CHUNK_LEN except the tail), and its
    first/last doc — the manifest a sharded example-writer consumes.

    Scale shape: the global token offset uses the same two-phase
    distributed prefix sum as sample_systematic_weighted (range
    repartition on doc_id, per-partition running sums, one broadcast
    carry-in patch — NO global sort/window); each doc then explodes to
    its (last_chunk − first_chunk + 1) covered chunks, so expansion is
    linear in chunks + docs, and one hash aggregate builds the manifest.
    All-BIGINT arithmetic; the oracle replays it bit-identically."""
    from pyspark.sql.window import Window

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    d = docs.select(
        "doc_id", F.size(T.ws_tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    part = d.repartitionByRange(F.col("doc_id").asc()).withColumn(
        "__pid", F.spark_partition_id()
    )
    wloc = (
        Window.partitionBy("__pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = part.withColumn("__cloc", F.sum("n_tokens").over(wloc))
    totals = part.groupBy("__pid").agg(F.sum("n_tokens").alias("__pt"))
    wcum = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "__pid", F.coalesce(F.sum("__pt").over(wcum), F.lit(0)).alias("__off")
    )
    spans = (
        local.join(F.broadcast(offs), "__pid")
        .select(
            "doc_id",
            (F.col("__cloc") + F.col("__off") - F.col("n_tokens")).alias("s"),
            (F.col("__cloc") + F.col("__off")).alias("e"),
        )
        .withColumn("fc", F.expr(f"s div {_CHUNK_LEN}"))
        .withColumn("lc", F.expr(f"(e - 1) div {_CHUNK_LEN}"))
    )
    expanded = spans.select(
        "doc_id", "s", "e", "fc", F.explode(F.sequence("fc", "lc")).alias("cid")
    )
    return expanded.groupBy(F.col("cid").alias("chunk_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("cid") > F.col("fc"), 1).otherwise(0))
        .cast("long")
        .alias("n_spanning"),
        F.sum(
            F.least(F.col("e"), (F.col("cid") + 1) * _CHUNK_LEN)
            - F.greatest(F.col("s"), F.col("cid") * _CHUNK_LEN)
        )
        .cast("long")
        .alias("chunk_tokens"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# length-bucketed inference batch planner (dynamic-batching manifest)
# ---------------------------------------------------------------------------
_LB_BUDGET = 1024  # padded tokens per micro-batch

_LB_BUCKET_SQL = """CASE WHEN t <= 8 THEN 8 WHEN t <= 16 THEN 16
         WHEN t <= 32 THEN 32 WHEN t <= 64 THEN 64 WHEN t <= 128 THEN 128
         WHEN t <= 256 THEN 256 WHEN t <= 512 THEN 512 ELSE 1024 END"""

_LB_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, len(string_split(text, ' '))::BIGINT AS t FROM documents
    ),
    b AS (
        SELECT doc_id, t, ({_LB_BUCKET_SQL})::BIGINT AS bucket FROM d
    ),
    rk AS (
        SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS r
        FROM b
    ),
    asg AS (
        SELECT bucket, t,
               ((r - 1) // ({_LB_BUDGET} // bucket))::BIGINT AS batch_id
        FROM rk
    )
    SELECT bucket, batch_id,
           COUNT(*)::BIGINT AS n_docs,
           SUM(t)::BIGINT AS real_tokens,
           (COUNT(*) * bucket)::BIGINT AS padded_tokens,
           (SUM(t) * 1000 // (COUNT(*) * bucket))::BIGINT AS fill_permille
    FROM asg GROUP BY bucket, batch_id
"""


@register("pack_length_buckets", oracle=_LB_ORACLE)
def pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed inference batch planner: round every document's
    token count up to a power-of-two bucket, pack each bucket's documents
    into fixed-token-budget micro-batches, and report per-batch padding
    efficiency — the dynamic-batching manifest every LLM inference server
    builds (padding waste is the cost of serving; the fill_permille
    column is the number you tune bucket boundaries with).

    Scale shape: token counts and buckets are narrow per-row maps; the
    in-bucket sequence number uses a GROUPED two-phase exact rank —
    range-partition on (bucket, doc_id), per-partition local row_number,
    then a broadcast per-(partition, bucket) count carry — so no bucket
    ever becomes a one-task global window (the handful of buckets would
    otherwise cap parallelism at the bucket count). All-BIGINT outputs;
    batch assignment is a closed-form floor division of the exact rank."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    t = F.size(F.split("text", " ")).cast("long")
    d = docs.select("doc_id", t.alias("t"))
    bucket = (
        F.when(F.col("t") <= 8, 8)
        .when(F.col("t") <= 16, 16)
        .when(F.col("t") <= 32, 32)
        .when(F.col("t") <= 64, 64)
        .when(F.col("t") <= 128, 128)
        .when(F.col("t") <= 256, 256)
        .when(F.col("t") <= 512, 512)
        .otherwise(1024)
        .cast("long")
    )
    b = d.select("doc_id", "t", bucket.alias("bucket"))

    part = b.repartitionByRange(F.col("bucket").asc(), F.col("doc_id").asc()).withColumn(
        "__pid", F.spark_partition_id()
    )
    wloc = Window.partitionBy("__pid", "bucket").orderBy("doc_id")
    local = part.withColumn("__r_loc", F.row_number().over(wloc).cast("long"))
    totals = part.groupBy("__pid", "bucket").agg(F.count(F.lit(1)).alias("__pt"))
    wcum = (
        Window.partitionBy("bucket")
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.select(
        "__pid",
        "bucket",
        F.coalesce(F.sum("__pt").over(wcum), F.lit(0).cast("long")).alias("__off"),
    )
    ranked = local.join(F.broadcast(offs), ["__pid", "bucket"]).withColumn(
        "batch_id",
        F.expr(f"(__r_loc + __off - 1) div ({_LB_BUDGET} div bucket)").cast("long"),
    )
    return ranked.groupBy("bucket", "batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("t").cast("long").alias("real_tokens"),
        (F.count(F.lit(1)) * F.col("bucket")).cast("long").alias("padded_tokens"),
        F.expr("sum(t) * 1000 div (count(1) * bucket)")
        .cast("long")
        .alias("fill_permille"),
    )


# ---------------------------------------------------------------------------
# A-ES weighted reservoir sample (one-pass distributed reservoir)
# ---------------------------------------------------------------------------
_RES_K = 100

_RES_ORACLE = f"""
    WITH w AS (
        SELECT doc_id, source, n_chars AS w,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS h
        FROM documents WHERE n_chars > 0 AND doc_id IS NOT NULL
    )
    SELECT doc_id, source, w,
           ROUND(-ln((h + 1) / 4503599627370496.0) / w, 9) AS res_key
    FROM w
    ORDER BY res_key ASC, doc_id ASC
    LIMIT {_RES_K}
"""


@register("sample_reservoir_weighted", oracle=_RES_ORACLE)
def sample_reservoir_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling WITHOUT replacement (Efraimidis–
    Spirakis A-ES): the k documents with the smallest −ln(u)/n_chars
    where u is a deterministic md5-derived uniform — char-count-biased
    sampling with exact without-replacement inclusion probabilities,
    the streaming/distributed counterpart of sample_systematic_weighted
    (which samples WITH replacement on the cumulative line).

    Scale shape (operators/sampling.py:weighted_reservoir_sample): narrow
    map + TakeOrderedAndProject — per-partition top-k then a k-row merge;
    no global sort, no prefix sums, ONE pass. This is how a reservoir is
    taken from a 100 TB corpus: the order-statistic key makes per-split
    top-k composable, exactly what the sequential algorithm's heap does."""
    from lithops_dataframe_spark.operators.sampling import (
        weighted_reservoir_sample,
    )

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return weighted_reservoir_sample(
        docs, "n_chars", "doc_id", k=_RES_K, extra_cols=("source",)
    ).select(F.col("id").alias("doc_id"), "source", "w", "res_key")


# ---------------------------------------------------------------------------
# token-balanced output shards (serpentine greedy)
# ---------------------------------------------------------------------------
_N_SHARDS = 8

_SHARD_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, len(string_split(text, ' '))::BIGINT AS t
        FROM documents
    ),
    rk AS (
        SELECT doc_id, t,
               row_number() OVER (ORDER BY t DESC, doc_id ASC) AS rn
        FROM d
    ),
    asg AS (
        SELECT t,
               CASE WHEN (rn - 1) % {2 * _N_SHARDS} < {_N_SHARDS}
                    THEN (rn - 1) % {2 * _N_SHARDS}
                    ELSE {2 * _N_SHARDS - 1} - (rn - 1) % {2 * _N_SHARDS}
               END AS shard
        FROM rk
    )
    SELECT shard::INT AS shard,
           COUNT(*)::BIGINT AS n_docs,
           SUM(t)::BIGINT AS shard_tokens,
           MAX(t)::BIGINT AS max_doc_tokens,
           MIN(t)::BIGINT AS min_doc_tokens
    FROM asg GROUP BY shard
"""


@register("pack_balanced_shards", oracle=_SHARD_ORACLE)
def pack_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced output sharding: rank documents by token count
    descending and deal them to N shards in SERPENTINE order
    (0..N-1, N-1..0, …) — the classic LPT-style greedy that bounds
    shard skew to one document's tokens per round, so every output
    shard of a training-data write lands within ~one-max-doc of equal
    token mass (vs hash sharding's √n-scale imbalance). The shard
    column is directly usable as a ``partitionBy`` write key; this
    query emits the balance audit.

    Scale shape: token counts are a narrow map; the global rank is the
    two-phase range-partition + broadcast-carry row_number
    (operators/util.py:global_row_number) — no single-task window; the
    serpentine fold is a closed-form mod expression; one final tiny
    aggregate. All-BIGINT outputs, deterministic (doc_id tiebreak)."""
    from lithops_dataframe_spark.operators.util import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("t")
    )
    ranked = global_row_number(
        d, [F.col("t").desc(), F.col("doc_id").asc()], out_col="rn"
    )
    m = (F.col("rn") - 1) % F.lit(2 * _N_SHARDS)
    shard = (
        F.when(m < _N_SHARDS, m).otherwise(F.lit(2 * _N_SHARDS - 1) - m).cast("int")
    )
    return (
        ranked.withColumn("shard", shard)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("t").cast("long").alias("shard_tokens"),
            F.max("t").cast("long").alias("max_doc_tokens"),
            F.min("t").cast("long").alias("min_doc_tokens"),
        )
    )


@register("stream_incremental_reservoir", oracle=_RES_ORACLE)
def stream_incremental_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ``sample_reservoir_weighted`` (round 9) — a real
    structured stream: documents staged as three ascending-doc_id
    micro-batch files (mtime-pinned), consumed with maxFilesPerTrigger=1
    + availableNow through ``foreachBatch``
    (streaming/reservoir.py::foreach_batch_reservoir). Each epoch merges
    its batch's top-k A-ES keys into a standing k-row state snapshot;
    because the order-statistic key is a pure per-row function,
    top-k(state ∪ batch) ≡ top-k(everything so far), so the final state
    must hash-match the BATCH reservoir over the whole corpus — which is
    exactly what the shared oracle asserts. Standing state is k rows
    total: the 100 TB firehose never accumulates."""
    import os as _os

    from lithops_dataframe_spark.streaming.events import read_events_stream
    from lithops_dataframe_spark.streaming.fsutil import list_epochs
    from lithops_dataframe_spark.streaming.reservoir import (
        _state_schema,
        foreach_batch_reservoir,
    )
    from lithops_dataframe_spark.streaming.staging import (
        await_or_raise,
        stage_microbatches,
    )

    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    if mx is None:  # empty corpus: an empty reservoir
        return values_frame(
            spark, [], "doc_id long, source string, w long, res_key double"
        )
    # Clamped into [0, 2] so a negative doc_id lands in the first batch
    # instead of vanishing from the stream (shared helper — see
    # streaming/staging.clamped_batch_expr for the full contract).
    from lithops_dataframe_spark.streaming.staging import clamped_batch_expr

    batch_expr = clamped_batch_expr(int(mx), 3)

    work = cache.scratch("stream_res")
    replay = _os.path.join(work, "replay")
    stage_microbatches(docs, batch_expr, 3, replay)
    stream = read_events_stream(spark, replay + "/*.parquet", docs.schema)
    state_dir = _os.path.join(work, "state")
    extra = {"source": "StringType"}
    q = foreach_batch_reservoir(
        stream,
        state_dir,
        _os.path.join(work, "_ckpt"),
        weight_col="n_chars",
        id_col="doc_id",
        k=_RES_K,
        extra=extra,
    )
    await_or_raise(q, 300, "stream_incremental_reservoir")
    last = list_epochs(spark, state_dir)[-1]
    return (
        spark.read.schema(_state_schema(extra))
        .parquet(_os.path.join(state_dir, f"epoch={last}"))
        .select(F.col("id").alias("doc_id"), "source", "w", "res_key")
    )
