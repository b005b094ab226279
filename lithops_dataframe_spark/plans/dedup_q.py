"""Dedup queries over the `documents` fixture — every operator in
operators/dedup.py as an oracle-checked `queries()` entry.

The oracles are *generated from the same hash constants* as the Spark
operators (functions/hashing.py), so even the approximate LSH pipelines are
hash-checkable end-to-end: identical shingles → identical signatures →
identical candidate sets → identical verified pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lithops_dataframe_spark import cache
from lithops_dataframe_spark.catalog import load_table
from lithops_dataframe_spark.functions import hashing as H
from lithops_dataframe_spark.operators import dedup as D
from lithops_dataframe_spark.operators import similarity as SIM
from lithops_dataframe_spark.operators.util import values_frame
from lithops_dataframe_spark.plans.registry import register

_SHINGLES = H.word_shingles_sql("text", 2)
_BANDS = H.band_signatures_sql("sig", 4)
_BAND_UNION = "\n      UNION ALL ".join(
    f"SELECT id, sh, {j} AS band_idx, {expr} AS band_key FROM sig" for j, expr in enumerate(_BANDS)
)
# same postings with the arriving-batch flag carried through (incremental
# dedup oracle)
_BAND_UNION_FLAGGED = "\n      UNION ALL ".join(
    f"SELECT id, is_new, {j} AS band_idx, {expr} AS band_key FROM sig"
    for j, expr in enumerate(_BANDS)
)

_MINHASH_ORACLE = f"""
    WITH shng AS (
        SELECT doc_id AS id, {_SHINGLES} AS sh FROM documents
    ),
    sig AS (
        SELECT id, sh, {H.minhash_signature_sql('sh')} AS sig FROM shng
    ),
    bands AS (
      {_BAND_UNION}
    ),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id
    ),
    verif AS (
        SELECT id_a, id_b,
               len(list_intersect(sa.sh, sb.sh))::DOUBLE
                 / len(list_distinct(list_concat(sa.sh, sb.sh))) AS j
        FROM cand
        JOIN shng sa ON sa.id = cand.id_a
        JOIN shng sb ON sb.id = cand.id_b
    )
    SELECT id_a, id_b, ROUND(j, 4) AS jaccard FROM verif WHERE j >= 0.6
"""

_SIMHASH_ORACLE = f"""
    WITH s AS (
        SELECT doc_id AS id,
               {H.simhash_sql(_SHINGLES)} AS sh
        FROM documents
    ),
    blocks AS (
        SELECT id, sh, t.j AS blk, (sh >> (15 * t.j::INT)) % 32768 AS key
        FROM s, range(4) t(j)
    ),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sh AS sh_a, b.sh AS sh_b
        FROM blocks a JOIN blocks b
          ON a.blk = b.blk AND a.key = b.key AND a.id < b.id
    )
    SELECT id_a, id_b, bit_count(xor(sh_a, sh_b))::INT AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
"""

# Trigram shingles for the exact-Jaccard join: on this fixture's small
# shared vocabulary, bigram document frequencies are huge (avg df ≈ 275 at
# sf0.1 → Σdf² ≈ 73M joined postings); trigrams restore the sparse inverted
# index (avg df ≈ 10) without losing the planted near-dup pairs.
_NGRAM_N = 3
_SHINGLES3 = H.word_shingles_sql("text", _NGRAM_N)

# Inverted-index form, mirroring the engine plan: postings self-join on
# the shingle (work = Σ df², df≈10 for trigrams) instead of the n²·|sh|
# all-pairs list_intersect — the r6 sf0.1 sweep measured the all-pairs
# form at 20+ minutes in DuckDB; this replays in seconds. Identical
# output: shingle lists are DISTINCT by construction, so COUNT(*) per
# (id_a, id_b) over matched postings IS |intersection|, and every pair
# at jaccard ≥ 0.3 has at least one shared shingle to be found by.
def _ngram_oracle(threshold: float) -> str:
    """Inverted-index exact-Jaccard oracle (Σ df² postings self-join) at a
    given threshold — ground truth for BOTH engine plans (the full
    inverted index and the prefix-filtered AllPairs join): same pair set,
    so one oracle form gates two different distributed algorithms."""
    return f"""
    WITH shng AS (SELECT doc_id AS id, {_SHINGLES3} AS sh FROM documents),
    post AS (SELECT id, unnest(sh) AS s FROM shng),
    pairs AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS common
        FROM post a JOIN post b ON a.s = b.s AND a.id < b.id
        GROUP BY 1, 2
    ),
    sized AS (SELECT id, len(sh) AS n FROM shng)
    SELECT id_a, id_b,
           ROUND(common::DOUBLE / (na.n + nb.n - common), 4) AS jaccard
    FROM pairs
    JOIN sized na ON na.id = id_a
    JOIN sized nb ON nb.id = id_b
    WHERE common::DOUBLE / (na.n + nb.n - common) >= {threshold}
"""


_NGRAM_ORACLE = _ngram_oracle(0.3)


_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE shng AS (
        SELECT doc_id AS id, {_SHINGLES} AS sh FROM documents
    ),
    sig AS (
        SELECT id, sh, {H.minhash_signature_sql('sh')} AS sig FROM shng
    ),
    bands AS (
      {_BAND_UNION}
    ),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id
    ),
    pairs AS (
        SELECT id_a, id_b
        FROM cand
        JOIN shng sa ON sa.id = cand.id_a
        JOIN shng sb ON sb.id = cand.id_b
        WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
              / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.6
    ),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    )
    SELECT id, MIN(r) AS cluster FROM reach GROUP BY id
"""


@register("dedup_neardup_clusters", oracle=_CLUSTERS_ORACLE)
def dedup_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup graph (iterative
    min-label propagation; oracle = recursive transitive closure) —
    cluster_id is the min doc_id per duplicate component, the survivor
    key a full-corpus dedup keeps."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, "text", "doc_id", shingle_n=2, bands=4, threshold=0.6)
    return D.connected_components(pairs)


@register(
    "dedup_exact_after_union",
    oracle="""
    SELECT COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM (
        SELECT DISTINCT doc_id, n_chars FROM (
            SELECT doc_id, n_chars FROM documents
            UNION ALL
            SELECT doc_id, n_chars FROM documents
        )
    )
    """,
)
def dedup_exact_after_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    doubled = docs.unionByName(docs)
    return D.exact_dedup(doubled).agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


@register(
    "dedup_exact_fingerprint",
    oracle="""
    SELECT COUNT(DISTINCT md5(text)) AS n_unique_texts,
           COUNT(*) AS n_docs
    FROM documents
    """,
)
def dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale pattern: dedup on a 128-bit fingerprint, never on the payload —
    # the shuffle key is 32 bytes instead of the full document.
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(F.md5("text").alias("fp")).agg(
        F.countDistinct("fp").alias("n_unique_texts"), F.count(F.lit(1)).alias("n_docs")
    )


@register("dedup_minhash_lsh_pairs", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, "text", "doc_id", shingle_n=2, bands=4, threshold=0.6)


# Incremental batch dedup: the arriving batch (doc_id % 10 = 0) probes the
# standing LSH index; a new doc is dropped when it near-dups an existing
# doc or a smaller-id doc of the same batch (first-wins).
_INCREMENTAL_ORACLE = f"""
    WITH shng AS (
        SELECT doc_id AS id, (doc_id % 10 = 0) AS is_new, {_SHINGLES} AS sh
        FROM documents
    ),
    sig AS (
        SELECT id, is_new, sh, {H.minhash_signature_sql('sh')} AS sig FROM shng
    ),
    bands AS (
      {_BAND_UNION_FLAGGED}
    ),
    cand AS (
        SELECT DISTINCT a.id AS new_id, b.id AS other_id
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.id <> b.id
        WHERE a.is_new AND (NOT b.is_new OR b.id < a.id)
    ),
    matches AS (
        SELECT new_id, other_id
        FROM cand
        JOIN shng sa ON sa.id = cand.new_id
        JOIN shng sb ON sb.id = cand.other_id
        WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
              / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.6
    ),
    nd AS (
        SELECT new_id, COUNT(*)::BIGINT AS n FROM matches GROUP BY new_id
    )
    SELECT s.id,
           COALESCE(nd.n, 0)::BIGINT AS n_dup_matches,
           (nd.new_id IS NULL)::INT AS keep
    FROM shng s LEFT JOIN nd ON nd.new_id = s.id
    WHERE s.is_new
"""


@register("dedup_incremental_batch", oracle=_INCREMENTAL_ORACLE)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup (round 6) — the production shape: the
    arriving batch (every 10th doc) probes the standing band-postings
    index instead of re-pairing the whole corpus with itself; candidate
    work is O(batch × bands), never existing × existing. Decision per
    arriving doc: kept unless it near-dups an existing doc or a
    smaller-id batch-mate (deterministic first-wins). Oracle replays the
    identical signature/band/verify chain with the probe-side
    restriction."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "is_new", F.col("doc_id") % 10 == 0
    )
    return D.minhash_incremental_dedup(
        docs, "text", "doc_id", "is_new", shingle_n=2, bands=4, threshold=0.6
    )


# Streaming incremental dedup (round 8 — §2.11's last missing streaming
# twin): three doc_id-ordered micro-batches flow through foreachBatch;
# each probes the standing LSH index of every previously-ARRIVED doc
# (kept or dropped — the signature graveyard) plus smaller-id
# batch-mates, then appends itself to the index. Because the staged
# batches are ascending doc_id ranges, "arrived earlier" ≡ "smaller
# doc_id", so the whole multi-batch run must equal the pure-SQL rule:
# a doc is kept iff it near-dups no smaller-id doc.
_STREAM_INCR_ORACLE = f"""
    WITH shng AS (
        SELECT doc_id AS id, {_SHINGLES} AS sh FROM documents
    ),
    sig AS (
        SELECT id, sh, {H.minhash_signature_sql('sh')} AS sig FROM shng
    ),
    bands AS (
      {_BAND_UNION}
    ),
    cand AS (
        SELECT DISTINCT a.id AS new_id, b.id AS other_id
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND b.id < a.id
    ),
    matches AS (
        SELECT new_id, other_id
        FROM cand
        JOIN shng sa ON sa.id = cand.new_id
        JOIN shng sb ON sb.id = cand.other_id
        WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
              / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.6
    ),
    nd AS (
        SELECT new_id, COUNT(*)::BIGINT AS n FROM matches GROUP BY new_id
    )
    SELECT s.id AS doc_id,
           COALESCE(nd.n, 0)::BIGINT AS n_prior_dups,
           (nd.new_id IS NULL)::INT AS keep,
           LEAST(GREATEST(
               s.id * 3 // (SELECT GREATEST(MAX(doc_id) + 1, 1) FROM documents),
               0), 2)::BIGINT AS batch_no
    FROM shng s LEFT JOIN nd ON nd.new_id = s.id
"""


@register("stream_incremental_dedup", oracle=_STREAM_INCR_ORACLE)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental MinHash dedup (round 8) — a REAL structured
    stream: the documents table staged as three ascending-doc_id
    micro-batch files (mtime-pinned), consumed with maxFilesPerTrigger=1
    + availableNow through ``foreachBatch``
    (streaming/dedup.py::foreach_batch_incremental_dedup). Each epoch
    probes the standing band-postings index persisted from ALL earlier
    epochs, decides keep/drop per arriving doc (near-dup of an indexed
    doc or a smaller-id batch-mate ⇒ dropped), and appends its own
    postings+shingles partition to the index — O(batch × bands) probe
    work per epoch, epoch-keyed idempotent writes. The read-back
    decision table must hash-match the batch-SQL rule "kept iff no
    smaller-id near-dup", which is exactly what cross-batch index
    continuity guarantees."""
    import os as _os

    from lithops_dataframe_spark.streaming.dedup import (
        foreach_batch_incremental_dedup,
    )
    from lithops_dataframe_spark.streaming.events import read_events_stream
    from lithops_dataframe_spark.streaming.staging import (
        await_or_raise,
        clamped_batch_expr,
        stage_microbatches,
    )

    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    if mx is None:  # empty corpus: nothing to stream, empty decisions
        return values_frame(
            spark, [], "doc_id long, n_prior_dups long, keep int, batch_no long"
        )
    # Same clamped formula as the oracle's batch_no — and the staged file
    # order (b0 < b1 < b2 by mtime) equals batch_no order. Shared helper:
    # see streaming/staging.clamped_batch_expr for the negative-id /
    # divisor-guard contract.
    batch_expr = clamped_batch_expr(int(mx), 3)

    work = cache.scratch("stream_dedup")
    replay = _os.path.join(work, "replay")
    stage_microbatches(docs, batch_expr, 3, replay)
    stream = read_events_stream(spark, replay + "/*.parquet", docs.schema)
    q = foreach_batch_incremental_dedup(
        stream,
        _os.path.join(work, "index"),
        _os.path.join(work, "decisions"),
        _os.path.join(work, "_ckpt"),
        text_col="text",
        id_col="doc_id",
        shingle_n=2,
        bands=4,
        threshold=0.6,
        # Fold epochs 0+1 into one index partition before epoch 2's
        # probe: the gated run now exercises compact_index under the
        # oracle (r9 verdict task — compaction correctness previously
        # had only unit-test evidence), and the decisions must still
        # hash-match the batch-SQL rule.
        compact_every=2,
    )
    await_or_raise(q, 300, "stream_incremental_dedup")
    # the lazy read-back, with the schema the step wrote: no inference job
    return (
        spark.read.schema("doc_id long, n_prior_dups long, keep int, epoch int")
        .parquet(_os.path.join(work, "decisions"))
        .select(
            "doc_id",
            "n_prior_dups",
            "keep",
            F.col("epoch").cast("long").alias("batch_no"),
        )
    )


@register("dedup_simhash_pairs", oracle=_SIMHASH_ORACLE)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs(docs, "text", "doc_id", max_hamming=3)


@register("dedup_ngram_jaccard_pairs", oracle=_NGRAM_ORACLE)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, "text", "doc_id", shingle_n=_NGRAM_N, threshold=0.3)


@register("dedup_jaccard_prefix_filter", oracle=_ngram_oracle(0.4))
def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AllPairs/PPJoin prefix-filtered exact-Jaccard join (round 6): the
    candidate join touches only each doc's (1−t)-fraction rarest-shingle
    prefix (global df-ascending order) + integer-exact length filter,
    then verifies with array_intersect on candidates only. The oracle is
    the FULL inverted-index form — prefix filtering is provably lossless,
    so both must produce the identical pair set."""
    docs = load_table(spark, sf_dir, "documents")
    return D.jaccard_prefix_filter_pairs(docs, "text", "doc_id", shingle_n=_NGRAM_N, threshold=0.4)


# Containment (asymmetric Jaccard): C(small→big) = |∩| / |small| ≥ 3/5.
# Oracle is the full inverted-index form (postings self-join, Σdf² work —
# fine at oracle scale); the Spark side prunes candidates with the
# asymmetric prefix filter, which is provably lossless, so the pair sets
# must be identical.
_CONTAIN_ORACLE = f"""
    WITH base AS MATERIALIZED (
        SELECT doc_id AS id, {H.word_shingles_sql('text', _NGRAM_N)} AS sh FROM documents
    ),
    post AS MATERIALIZED (
        SELECT id, len(sh)::BIGINT AS n, unnest(sh) AS s FROM base
    ),
    pairs AS (
        SELECT a.id AS id_small, b.id AS id_big, a.n AS n_a, COUNT(*)::BIGINT AS common
        FROM post a JOIN post b
          ON a.s = b.s
         AND (a.n < b.n OR (a.n = b.n AND a.id < b.id))
        GROUP BY 1, 2, 3
    )
    SELECT id_small, id_big, common, ROUND(common::DOUBLE / n_a, 4) AS containment
    FROM pairs WHERE 5 * common >= 3 * n_a
"""


@register("dedup_containment_pairs", oracle=_CONTAIN_ORACLE)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-containment near-dup join (round 6): every (small, big)
    pair with |small ∩ big| / |small| ≥ 0.6 over 3-gram shingles — the
    doc-in-doc class (excerpts, quoted articles, boilerplate wrappers)
    where symmetric Jaccard is blind. Candidates come from the
    asymmetric prefix filter: only the SMALL side's rarest-shingle
    prefix is indexed, joined against full postings of bigger docs, and
    all pruning comparisons are exact integer arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    return D.containment_pairs(docs, "text", "doc_id", shingle_n=_NGRAM_N, threshold=0.6)


_LEV_ORACLE = """
    WITH b AS (SELECT doc_id AS id, text AS txt, substr(text, 1, 16) AS blk
               FROM documents)
    SELECT a.id AS id_a, c.id AS id_b,
           CAST(levenshtein(a.txt, c.txt) AS INT) AS dist
    FROM b a JOIN b c ON a.blk = c.blk AND a.id < c.id
    WHERE levenshtein(a.txt, c.txt) <= 40
"""


@register("dedup_fuzzy_levenshtein_pairs", oracle=_LEV_ORACLE)
def dedup_fuzzy_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs: prefix-16 blocking + threshold-bounded
    levenshtein (banded DP via the 3-arg form). The exact-verification
    member of the dedup ensemble — catches char-level edits that word-
    shingle Jaccard underweights."""
    docs = load_table(spark, sf_dir, "documents")
    return D.levenshtein_blocked_pairs(docs, "text", "doc_id", prefix_len=16, max_dist=40)


# ---------------------------------------------------------------------------
# Content-defined chunking (rolling-hash CDC) — sub-document dedup (round 4)
# ---------------------------------------------------------------------------

# DuckDB replay of operators/dedup.py::cdc_chunks — identical integer
# arithmetic: printable-ASCII sanitize, 8-char window polynomial hash
# (base 31), 16-bit Knuth mix, boundary when mix < 65536/64
_CDC_POWERS = [31**j for j in range(7, -1, -1)]
_CDC_HASH = " + ".join(
    f"ord(substr(s, p - 8 + {j} + 1, 1)) * {_CDC_POWERS[j]}::BIGINT" for j in range(8)
)
_CDC_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, regexp_replace(text, '[^\\x20-\\x7e]', '', 'g') AS s
        FROM documents
    ),
    b AS (
        SELECT doc_id, s, length(s) AS n,
               list_append(
                   list_filter(
                       list_filter(range(8, length(s) + 1),
                                   p -> ((({_CDC_HASH}) % 65536) * 40503) % 65536 < 1024),
                       p -> p < length(s)),
                   length(s)) AS bounds
        FROM d
    ),
    ch AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(bounds) + 1), i ->
                   substr(s,
                          (CASE WHEN i = 1 THEN 0 ELSE bounds[i - 1] END) + 1,
                          bounds[i] - (CASE WHEN i = 1 THEN 0 ELSE bounds[i - 1] END))
               )) AS chunk
        FROM b
    ),
    chunks AS (
        SELECT doc_id, md5(chunk) AS chunk_md5, length(chunk) AS chunk_len
        FROM ch WHERE length(chunk) > 0
    )
    SELECT chunk_md5,
           chunk_len::INT AS chunk_len,
           COUNT(*)::BIGINT AS n_occurrences,
           COUNT(DISTINCT doc_id)::BIGINT AS n_docs
    FROM chunks
    GROUP BY chunk_md5, chunk_len
    HAVING COUNT(*) >= 2
"""


@register("dedup_cdc_chunks", oracle=_CDC_ORACLE)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUB-document dedup via content-defined chunking: a fixed-window
    rolling hash (base-31 polynomial + 16-bit Knuth mix, avg chunk ≈ 64
    chars) places chunk boundaries that move WITH the content, so shared
    passages hash to identical chunks even when their byte offsets differ
    between documents (the property byte-offset chunking lacks). Emits
    every chunk duplicated across the corpus with its occurrence and
    document counts — the candidate list a chunk-level dedup/dedup-aware
    packer consumes. Boundaries are found per Arrow batch
    (``cdc_chunks``); only 16-byte chunk hashes shuffle. Full value-hash
    oracle: DuckDB replays the identical integer arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    ch = D.cdc_chunks(docs, "text", "doc_id", mask=63)
    return (
        ch.groupBy("chunk_md5", "chunk_len")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("id").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= 2)
        .select(
            "chunk_md5",
            F.col("chunk_len").cast("int").alias("chunk_len"),
            "n_occurrences",
            "n_docs",
        )
    )


_SPAN_K = 8

_SPAN_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
        SELECT doc_id, i AS s,
               array_to_string(w[i : i + {_SPAN_K - 1}], ' ') AS gram
        FROM toks, UNNEST(range(1, len(w) - {_SPAN_K - 2})) AS t(i)
        WHERE len(w) >= {_SPAN_K}
    ),
    dup AS (
        SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2
    ),
    spans AS (
        SELECT g.doc_id, g.s, g.s + {_SPAN_K - 1} AS e
        FROM grams g JOIN dup USING (gram)
    ),
    lagged AS (
        SELECT doc_id, s, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_e
        FROM spans
    ),
    flagged AS (
        SELECT doc_id, s, e,
               CASE WHEN prev_e IS NULL OR s > prev_e + 1 THEN 1 ELSE 0 END
                 AS new_i
        FROM lagged
    ),
    islands AS (
        SELECT doc_id, s, e,
               SUM(new_i) OVER (PARTITION BY doc_id ORDER BY s
                                ROWS UNBOUNDED PRECEDING) AS isl
        FROM flagged
    ),
    merged AS (
        SELECT doc_id, isl, MIN(s) AS ms, MAX(e) AS me
        FROM islands GROUP BY doc_id, isl
    ),
    perdoc AS (
        SELECT doc_id, COUNT(*)::BIGINT AS n_regions,
               SUM(me - ms + 1)::BIGINT AS dup_words,
               MAX(me - ms + 1)::BIGINT AS longest_region
        FROM merged GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_regions, p.dup_words, p.longest_region,
           len(string_split(d.text, ' '))::BIGINT AS total_words,
           (p.dup_words * 1000) // len(string_split(d.text, ' '))
             AS dup_permille
    FROM perdoc p JOIN documents d USING (doc_id)
"""


@register("dedup_duplicate_spans", oracle=_SPAN_ORACLE)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT duplicated-substring coverage per document — the distributed
    k-gram form of suffix-array substring dedup (Lee et al. 2022): any
    word 8-gram occurring twice anywhere in the corpus marks its span,
    overlapping/adjacent spans merge into maximal regions (running
    max-end island windows), and each affected document reports region
    count, covered words, longest region, and exact integer permille
    coverage. Scale shape: pass 1 shuffles only 8-byte gram hashes with
    map-side combine; pass 2 re-verifies the (rare) candidates by real
    gram string, so collisions cannot corrupt exactness and full strings
    never shuffle for unique content."""
    docs = load_table(spark, sf_dir, "documents")
    return D.duplicate_span_stats(docs, k=_SPAN_K)


# ---------------------------------------------------------------------------
# C4-style chunk-level exact dedup with document reassembly (keep-first)
# ---------------------------------------------------------------------------
_CHUNK_W = 8  # words per chunk

_CHUNK_KEEP_ORACLE = f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    ch AS (
        SELECT doc_id, u.i AS chunk_idx,
               array_to_string(
                   words[(u.i * {_CHUNK_W} + 1):(u.i * {_CHUNK_W} + {_CHUNK_W})],
                   ' ') AS chunk
        FROM w, UNNEST(range(0, (len(words) + {_CHUNK_W} - 1) // {_CHUNK_W})) AS u(i)
    ),
    rk AS (
        SELECT doc_id, chunk_idx, chunk,
               row_number() OVER (PARTITION BY chunk
                                  ORDER BY doc_id, chunk_idx) AS rn
        FROM ch
    )
    SELECT doc_id,
           COUNT(*)::BIGINT AS n_chunks,
           SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS kept_chunks,
           (SUM(CASE WHEN rn = 1 THEN length(chunk) ELSE 0 END)
            + CASE WHEN SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0
                   THEN SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) - 1
                   ELSE 0 END)::BIGINT AS new_n_chars
    FROM rk GROUP BY doc_id
"""


@register("dedup_chunk_keep_first", oracle=_CHUNK_KEEP_ORACLE)
def dedup_chunk_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sub-document exact dedup with reassembly: split every
    document into consecutive 8-word chunks, keep only the FIRST
    global occurrence of each distinct chunk (ordered by doc_id then
    position — C4 did exactly this at the line level), and report each
    document's surviving-chunk count plus the reassembled text length —
    the operator that strips boilerplate repeated across a crawl without
    dropping whole documents.

    Scale shape: the chunking pass is a narrow per-row transform
    (sequence → slice → array_join, whole-stage codegen); the only
    shuffle is the dedup Exchange keyed on the chunk text, exactly the
    hash-partition a 100 TB run needs (at that scale key on
    xxhash64(chunk) with string verification inside the bucket — the
    duplicate_span_stats pattern — to shrink the shuffle payload).
    Exactness: counts and lengths are BIGINTs; the keep-first choice is
    the lexicographic (doc_id, chunk_idx) minimum, deterministic in both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    chunks = F.expr(
        f"transform(sequence(0, int(ceil(size(split(text, ' ')) / {_CHUNK_W})) - 1), "
        f"i -> array_join(slice(split(text, ' '), i * {_CHUNK_W} + 1, {_CHUNK_W}), ' '))"
    )
    ch = (
        docs.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "chunk_idx")
    rk = ch.withColumn("rn", F.row_number().over(w))
    keep = (F.col("rn") == 1).cast("long")
    kept = F.sum(keep)
    return rk.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        kept.cast("long").alias("kept_chunks"),
        (
            F.sum(F.when(F.col("rn") == 1, F.length("chunk")).otherwise(0))
            + F.when(kept > 0, kept - 1).otherwise(0)
        )
        .cast("long")
        .alias("new_n_chars"),
    )


# ---------------------------------------------------------------------------
# ensemble dedup agreement (text MinHash-LSH × embedding near-dup)
# ---------------------------------------------------------------------------
def _ensemble_oracle() -> str:
    """Compose the two verified pair sets — the MinHash-LSH text pairs
    (same CTE chain as _MINHASH_ORACLE) and the exact embedding cosine
    pairs at the sim threshold (same unit-normalize-then-dot chain as
    similarity_q) — and classify every pair by which detector found it."""
    from lithops_dataframe_spark.operators import similarity as S
    from lithops_dataframe_spark.plans.similarity_q import _NEARDUP_T, _dot_sql

    return f"""
    WITH shng AS (
        SELECT doc_id AS id, {_SHINGLES} AS sh FROM documents
    ),
    sig AS (
        SELECT id, sh, {H.minhash_signature_sql('sh')} AS sig FROM shng
    ),
    bands AS (
      {_BAND_UNION}
    ),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id
    ),
    tx AS (
        SELECT id_a, id_b
        FROM cand
        JOIN shng sa ON sa.id = cand.id_a
        JOIN shng sb ON sb.id = cand.id_b
        WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
                / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.6
    ),
    u AS (
        SELECT vec_id AS id,
               list_transform(range(1, {S.DIM + 1}),
                              i -> embedding[i]::DOUBLE
                                   / sqrt({_dot_sql('embedding', 'embedding')})) AS unit
        FROM embeddings
    ),
    em AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM u a JOIN u b ON a.id < b.id
        WHERE {_dot_sql('a.unit', 'b.unit')} >= {_NEARDUP_T}
    ),
    cls AS (
        SELECT CASE WHEN t.id_a IS NOT NULL AND e.id_a IS NOT NULL THEN 'both'
                    WHEN t.id_a IS NOT NULL THEN 'text_only'
                    ELSE 'embedding_only' END AS detector
        FROM tx t FULL JOIN em e
          ON t.id_a = e.id_a AND t.id_b = e.id_b
    )
    SELECT detector, COUNT(*)::BIGINT AS n_pairs FROM cls GROUP BY detector
    """


@register("dedup_ensemble_agreement", oracle=SIM.finite_emb_oracle(_ensemble_oracle()))
def dedup_ensemble_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-detector agreement matrix: run the lexical near-dup pass
    (MinHash-LSH, Jaccard-verified) and the semantic near-dup pass
    (embedding cosine) over the same corpus ids and count pairs found by
    both / only text / only embeddings — the calibration analysis that
    decides which detector (or the union) a production cleaning pipeline
    should trust, and at what thresholds.

    Scale shape: each detector keeps its own scale path (banded postings
    self-join; LSH-bucketed cosine — the exact quadratic is only the
    oracle's replay); the agreement step is ONE join of two already-tiny
    pair sets. Counts are BIGINTs."""
    from lithops_dataframe_spark.operators import similarity as S

    docs = load_table(spark, sf_dir, "documents")
    tx = D.minhash_lsh_pairs(docs, "text", "doc_id").select("id_a", "id_b")
    # r12 hygiene gate: the semantic detector excludes non-finite vectors
    emb = S.finite_vectors(load_table(spark, sf_dir, "embeddings"))
    em = S.cosine_near_dup_pairs(emb, threshold=0.4, use_lsh=False).select(
        F.col("id_a").alias("e_a"), F.col("id_b").alias("e_b")
    )
    j = tx.join(
        em, (F.col("id_a") == F.col("e_a")) & (F.col("id_b") == F.col("e_b")), "full"
    )
    detector = (
        F.when(F.col("id_a").isNotNull() & F.col("e_a").isNotNull(), "both")
        .when(F.col("id_a").isNotNull(), "text_only")
        .otherwise("embedding_only")
    )
    return (
        j.select(detector.alias("detector"))
        .groupBy("detector")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
