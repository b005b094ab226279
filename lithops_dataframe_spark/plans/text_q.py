"""Text-analysis queries over the `documents` fixture — the operators in
functions/text.py as oracle-checked `queries()` entries.

Oracles are generated from the same constants (stopword lists, weights,
winnowing parameters, hash constants) as the Spark expressions, so every
query — including language-ID and fingerprinting — hash-matches DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lithops_dataframe_spark.catalog import load_table
from lithops_dataframe_spark.functions import text as T
from lithops_dataframe_spark.operators.util import ensure_parallelism, prefix_sums
from lithops_dataframe_spark.plans.registry import register

_TOKS = T.ws_tokens_sql("text")

_TOKEN_STATS_ORACLE = f"""
    SELECT doc_id,
           len({_TOKS})::BIGINT AS n_ws_tokens,
           len({T.bpe_ish_tokens_sql('text')})::BIGINT AS n_bpe_tokens,
           len(list_distinct({_TOKS}))::BIGINT AS n_uniq_tokens,
           ROUND((length(text) - (len({_TOKS}) - 1))::DOUBLE / len({_TOKS}), 6) AS mean_token_len
    FROM documents
"""

_QUALITY_ORACLE = f"""
    WITH scored AS (
        SELECT lang, source, {T.quality_score_sql('text')} AS q, len({_TOKS}) AS n_toks
        FROM documents
    )
    SELECT lang, source,
           COUNT(*) AS n_docs,
           ROUND(AVG(q), 4) AS avg_quality,
           ROUND(AVG(n_toks), 4) AS avg_tokens
    FROM scored GROUP BY lang, source
"""

_LANGID_ORACLE = f"""
    SELECT lang, {T.language_id_sql(_TOKS)} AS pred_lang, COUNT(*) AS n_docs
    FROM documents
    GROUP BY lang, pred_lang
"""

_FINGERPRINT_ORACLE = f"""
    WITH fp AS (
        SELECT doc_id, {T.winnow_fingerprints_sql('text')} AS fps FROM documents
    )
    SELECT doc_id,
           len(fps)::BIGINT AS n_fp,
           COALESCE(list_min(fps), -1)::BIGINT AS min_fp
    FROM fp
"""

_TOP_TOKENS_ORACLE = f"""
    WITH toks AS (
        SELECT unnest({_TOKS}) AS token FROM documents
    ),
    counts AS (
        SELECT token, COUNT(*) AS n FROM toks GROUP BY token
    ),
    ranked AS (
        SELECT token, n, row_number() OVER (ORDER BY n DESC, token ASC) AS rk FROM counts
    )
    SELECT token, n FROM ranked WHERE rk <= 20
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-file fixture → repartition so per-doc feature extraction uses
    # every core (no-op on multi-split inputs)
    return ensure_parallelism(load_table(spark, sf_dir, "documents"))


@register("text_token_stats", oracle=_TOKEN_STATS_ORACLE)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = T.ws_tokens(F.col("text"))
    n_chars = F.length("text").cast("double")
    n_toks = F.size(toks).cast("double")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_ws_tokens"),
        F.size(T.bpe_ish_tokens(F.col("text"))).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq_tokens"),
        F.round((n_chars - (n_toks - 1)) / n_toks, 6).alias("mean_token_len"),
    )


@register("text_quality_by_source", oracle=_QUALITY_ORACLE)
def text_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Narrow map computes the per-doc score; one hash-shuffle on the small
    # (lang, source) key space — partial aggregation makes this scan-bound
    # at 100 TB.
    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "lang",
        "source",
        T.quality_score(F.col("text")).alias("q"),
        F.size(T.ws_tokens(F.col("text"))).alias("n_toks"),
    )
    return scored.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("q"), 4).alias("avg_quality"),
        F.round(F.avg("n_toks"), 4).alias("avg_tokens"),
    )


@register("text_langid_confusion", oracle=_LANGID_ORACLE)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.select("lang", T.language_id(T.ws_tokens(F.col("text"))).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register("text_fingerprint_stats", oracle=_FINGERPRINT_ORACLE)
def text_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    fps = T.winnow_fingerprints(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(fps).cast("long").alias("n_fp"),
        F.coalesce(F.array_min(fps), F.lit(-1)).cast("long").alias("min_fp"),
    )


_TFIDF_ORACLE = f"""
    WITH tok AS (
        SELECT doc_id, unnest({T.tf_buckets_sql(_TOKS)}) AS bucket FROM documents
    ),
    tf AS (
        SELECT doc_id, bucket, COUNT(*) AS tf FROM tok GROUP BY doc_id, bucket
    ),
    idf AS (
        SELECT bucket, ln(((SELECT COUNT(*) FROM documents) + 1.0) / (COUNT(DISTINCT doc_id) + 1.0)) + 1.0 AS idf
        FROM tok GROUP BY bucket
    )
    SELECT tf.doc_id, tf.bucket::INT AS bucket,
           tf.tf AS tf,
           ROUND(tf.tf * idf.idf, 6) AS w
    FROM tf JOIN idf ON idf.bucket = tf.bucket
"""


@register("text_hashed_tfidf", oracle=_TFIDF_ORACLE)
def text_hashed_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed TF-IDF document vectors (HashingTF + smoothed IDF), sparse
    (doc, bucket, weight) rows. The hashing trick removes vocabulary
    state: fixed TF_BUCKETS dimensionality, one explode + two hash
    aggregates, IDF side is TF_BUCKETS rows → broadcast join. The corpus
    size rides in as a one-row broadcast frame rather than a driver-side
    ``count()`` — one less scan/job, and the whole query stays a single
    lazy plan (the scale-correct shape: no action before the sink)."""
    docs = _docs(spark, sf_dir)
    n_docs = F.broadcast(docs.agg(F.count(F.lit(1)).cast("double").alias("__n_docs")))
    tok = docs.select("doc_id", F.explode(T.tf_buckets(T.ws_tokens(F.col("text")))).alias("bucket"))
    tf = tok.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("tf"))
    # IDF document-frequency derived FROM tf — df(bucket) = COUNT(*) of the
    # (doc, bucket) aggregate rows per bucket, identically equal to
    # COUNT(DISTINCT doc_id) over the raw postings. This removes the whole
    # second tokenize+hash lineage (scan → explode → two-level distinct
    # aggregate) the r11 plan paid: one Exchange on (doc_id, bucket) feeds
    # both the output rows and the idf side (guide §1.2/§2.4 — at 100 TB
    # the corpus is tokenized and md5-hashed once, not twice).
    # r13 reuse fix: the r12 form counted tf's rows with COUNT(*), which
    # let column pruning DROP the tf count from the idf-side partial
    # aggregate — the two (doc_id, bucket) exchanges then no longer
    # canonicalized equal and AQE only reused the scan/repartition stage,
    # re-running the whole explode+md5 partial-agg lineage for the idf
    # side (seen in the executed plan: ReusedExchange for the scan only,
    # two Generate lineages). Summing IF(tf > 0, 1, 0) — identically the
    # row count, since tf ≥ 1 by construction — keeps the tf column alive
    # in the idf subtree, the subtrees canonically equal, and the tf
    # exchange REUSED (verified in the executed plan: one Generate, the
    # idf lineage starts at ReusedExchange): the corpus is tokenized and
    # hashed ONCE at any scale. Interleaved A/B vs the r11 two-pass shape:
    # median 1.28 s vs 1.54 s at sf0.1 (plans/r13/ab_records.jsonl).
    df_src = tf.groupBy("bucket").agg(
        F.sum(F.when(F.col("tf") > 0, F.lit(1)).otherwise(F.lit(0))).alias("__df")
    )
    idf = df_src.crossJoin(n_docs).select(
        "bucket",
        (F.log((F.col("__n_docs") + 1.0) / (F.col("__df") + 1.0)) + 1.0).alias("idf"),
    )
    return tf.join(F.broadcast(idf), "bucket").select(
        "doc_id",
        F.col("bucket").cast("int").alias("bucket"),
        "tf",
        F.round(F.col("tf") * F.col("idf"), 6).alias("w"),
    )


@register("text_top_tokens", oracle=_TOP_TOKENS_ORACLE)
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explode → partial-agg per partition → shuffle on token → TakeOrdered:
    # the classic word-count whose map-side combine keeps the shuffle tiny.
    docs = _docs(spark, sf_dir)
    counts = (
        docs.select(F.explode(T.ws_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(20).select("token", "n")


_REP_METRICS_SQL = f"""
        SELECT source,
               len({_TOKS}) AS n_tokens,
               len(list_distinct({_TOKS}))::DOUBLE / len({_TOKS}) AS distinct_ratio,
               ({T.top_token_count_sql(_TOKS)})::DOUBLE / len({_TOKS}) AS top_token_frac,
               {T.dup_ngram_frac_sql(_TOKS, 2)} AS dup_2gram_frac,
               {T.dup_ngram_frac_sql(_TOKS, 3)} AS dup_3gram_frac
        FROM documents
"""

_REPETITION_ORACLE = f"""
    WITH m AS ({_REP_METRICS_SQL}),
    gated AS (
        SELECT *,
               (distinct_ratio >= {T.REP_MIN_DISTINCT}
                AND top_token_frac <= {T.REP_MAX_TOPFRAC}
                AND dup_2gram_frac <= {T.REP_MAX_DUP2}) AS keep
        FROM m
    )
    SELECT source,
           COUNT(*) AS n_docs,
           SUM(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           ROUND(AVG(distinct_ratio), 6) AS avg_distinct_ratio,
           ROUND(AVG(top_token_frac), 6) AS avg_top_token_frac,
           ROUND(AVG(dup_2gram_frac), 6) AS avg_dup_2gram_frac,
           ROUND(AVG(dup_3gram_frac), 6) AS avg_dup_3gram_frac
    FROM gated GROUP BY source
"""


@register("text_repetition_filter", oracle=_REPETITION_ORACLE)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition gate: distinct-token ratio, top-token
    dominance, and duplicate bigram/trigram fractions per document, rolled
    up per source with the keep-count under the fixed thresholds.

    Scale shape: every metric is a narrow per-row expression (sort+fold for
    the top-token count — O(n log n) per doc, no explode); the only shuffle
    is the final tiny per-source rollup. Reference analog: none (the
    reference has no text surface); this is the corpus-quality gate a
    100 TB training pipeline runs before dedup."""
    docs = _docs(spark, sf_dir)
    toks = T.ws_tokens(F.col("text"))
    n = F.size(toks)
    m = docs.select(
        "source",
        (F.size(F.array_distinct(toks)).cast("double") / n).alias("distinct_ratio"),
        (T.top_token_count(toks).cast("double") / n).alias("top_token_frac"),
        T.dup_ngram_frac(toks, 2).alias("dup_2gram_frac"),
        T.dup_ngram_frac(toks, 3).alias("dup_3gram_frac"),
    )
    keep = (
        (F.col("distinct_ratio") >= T.REP_MIN_DISTINCT)
        & (F.col("top_token_frac") <= T.REP_MAX_TOPFRAC)
        & (F.col("dup_2gram_frac") <= T.REP_MAX_DUP2)
    )
    return m.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
        F.round(F.avg("distinct_ratio"), 6).alias("avg_distinct_ratio"),
        F.round(F.avg("top_token_frac"), 6).alias("avg_top_token_frac"),
        F.round(F.avg("dup_2gram_frac"), 6).alias("avg_dup_2gram_frac"),
        F.round(F.avg("dup_3gram_frac"), 6).alias("avg_dup_3gram_frac"),
    )


_ZIPF_ORACLE = f"""
    WITH toks AS (
        SELECT source, unnest({_TOKS}) AS token FROM documents
    ),
    counts AS (
        SELECT source, token, COUNT(*) AS n FROM toks GROUP BY source, token
    ),
    ranked AS (
        SELECT source, n,
               row_number() OVER (PARTITION BY source ORDER BY n DESC, token ASC) AS rk
        FROM counts
    )
    SELECT source,
           COUNT(*) AS n_types,
           ROUND(regr_slope(ln(n), ln(rk)), 6) AS zipf_slope,
           ROUND(regr_r2(ln(n), ln(rk)), 6) AS zipf_r2
    FROM ranked GROUP BY source
"""


@register("text_zipf_slope", oracle=_ZIPF_ORACLE)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit per source: least-squares slope (and R²) of
    log(frequency) against log(rank) over the token frequency table — a
    corpus-health diagnostic (natural text ≈ −1; generated/templated text
    deviates).

    Scale shape: explode → two-key hash agg (partial map-side combine) →
    per-source window rank → tiny regression agg. The frequency table is
    vocabulary-sized, orders of magnitude smaller than the corpus; the
    explode is the one unavoidable full-data pass."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("source", F.explode(T.ws_tokens(F.col("text"))).alias("token"))
    counts = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("token"))
    ranked = counts.withColumn("rk", F.row_number().over(w))
    ln_n, ln_rk = F.log(F.col("n")), F.log(F.col("rk"))
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.round(F.regr_slope(ln_n, ln_rk), 6).alias("zipf_slope"),
        F.round(F.regr_r2(ln_n, ln_rk), 6).alias("zipf_r2"),
    )


_ODDS_TOPK = 5

_ODDS_ORACLE = f"""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    cnt AS (SELECT source, t, COUNT(*)::BIGINT AS a FROM tok GROUP BY source, t),
    tot_t AS (SELECT t, SUM(a)::BIGINT AS ct FROM cnt GROUP BY t),
    tot_s AS (SELECT source, SUM(a)::BIGINT AS ns FROM cnt GROUP BY source),
    tot AS (SELECT SUM(a)::BIGINT AS n FROM cnt),
    cells AS (
        SELECT c.source, c.t, c.a,
               (tt.ct - c.a) AS b,
               (ts.ns - c.a) AS cc,
               (tot.n - tt.ct - ts.ns + c.a) AS d
        FROM cnt c JOIN tot_t tt USING (t) JOIN tot_s ts USING (source)
        CROSS JOIN tot
    ),
    scored AS (
        SELECT source, t AS token, a AS cnt_in, b AS cnt_out,
               (((a + 1) * (d + 1) * 1000) // ((b + 1) * (cc + 1)))::BIGINT
                 AS odds_permille
        FROM cells
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY odds_permille DESC, token) AS rn
        FROM scored
    )
    SELECT source, token, cnt_in, cnt_out, odds_permille, rn::INT AS rank
    FROM ranked WHERE rn <= {_ODDS_TOPK}
"""


@register("text_distinctive_terms_odds", oracle=_ODDS_ORACLE)
def text_distinctive_terms_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per source via the EXACT-integer odds ratio
    (the "fightin' words" / corpus-comparison primitive behind domain
    tagging and contamination forensics): for each (source, token) build
    the 2×2 contingency cells a/b/c/d from two hash aggregates, score
    Haldane-smoothed odds ``(a+1)(d+1) / (b+1)(c+1)`` as an all-BIGINT
    permille, and keep each source's top terms (token tie-break → the
    per-source cut is bit-deterministic).

    Scale shape: one aggregate to (source, token) counts, token and
    source marginals reduced from that (never from raw text), the
    grand total as a one-row broadcast; the scored table is
    |sources|·|vocab| — vocabulary-scale, not corpus-scale — and the
    per-source top-K window shuffles only that. Overflow bound under
    ANSI: source_tokens · corpus_tokens · 1000 < 2^63 (≈4·10^8 tokens at
    20 even sources); past that, drop the permille factor or score per
    shard — the engines fail loud, not wrong."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("t"))
    cnt = tok.groupBy("source", "t").agg(F.count(F.lit(1)).cast("long").alias("a"))
    tot_t = cnt.groupBy("t").agg(F.sum("a").cast("long").alias("ct"))
    tot_s = cnt.groupBy("source").agg(F.sum("a").cast("long").alias("ns"))
    tot = cnt.agg(F.sum("a").cast("long").alias("n"))
    cells = (
        cnt.join(tot_t, "t")
        .join(tot_s, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("t").alias("token"),
            F.col("a").alias("cnt_in"),
            (F.col("ct") - F.col("a")).alias("b"),
            (F.col("ns") - F.col("a")).alias("cc"),
            (F.col("n") - F.col("ct") - F.col("ns") + F.col("a")).alias("d"),
        )
    )
    scored = cells.select(
        "source",
        "token",
        "cnt_in",
        F.col("b").alias("cnt_out"),
        F.expr("((cnt_in + 1) * (d + 1) * 1000) div ((b + 1) * (cc + 1))")
        .cast("long")
        .alias("odds_permille"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(
        F.col("odds_permille").desc(), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _ODDS_TOPK)
        .select("source", "token", "cnt_in", "cnt_out", "odds_permille", "rank")
    )


# ---------------------------------------------------------------------------
# corpus datasheet (dataset-card stats in one pass-set)
# ---------------------------------------------------------------------------
_DATASHEET_ORACLE = """
    WITH d AS (
        SELECT doc_id, lang, source, n_chars,
               len(string_split(text, ' '))::BIGINT AS words,
               md5(text) AS fp
        FROM documents
    ),
    base AS (
        SELECT COUNT(*)::BIGINT AS n_docs,
               SUM(n_chars)::BIGINT AS total_chars,
               SUM(words)::BIGINT AS total_words,
               COUNT(DISTINCT lang)::BIGINT AS n_langs,
               COUNT(DISTINCT source)::BIGINT AS n_sources,
               (COUNT(*) - COUNT(DISTINCT fp))::BIGINT AS n_exact_dups,
               MIN(words)::BIGINT AS min_words,
               MAX(words)::BIGINT AS max_words
        FROM d
    ),
    med AS (
        -- words IS NULL (NULL-text fetch failures) has no word length:
        -- excluded EXPLICITLY on both engines (r11 edge rows: Spark
        -- ranks NULLs first, DuckDB last — with 3 NULL docs the lower
        -- median rank lands on different rows)
        SELECT words AS median_words FROM (
            SELECT words, row_number() OVER (ORDER BY words, doc_id) AS r,
                   COUNT(*) OVER () AS n
            FROM d WHERE words IS NOT NULL
        ) WHERE r = (n + 1) // 2
    )
    SELECT metric, value FROM (
        SELECT 'n_docs' AS metric, n_docs AS value FROM base
        UNION ALL SELECT 'total_chars', total_chars FROM base
        UNION ALL SELECT 'total_words', total_words FROM base
        UNION ALL SELECT 'n_langs', n_langs FROM base
        UNION ALL SELECT 'n_sources', n_sources FROM base
        UNION ALL SELECT 'n_exact_dups', n_exact_dups FROM base
        UNION ALL SELECT 'min_words', min_words FROM base
        UNION ALL SELECT 'max_words', max_words FROM base
        UNION ALL SELECT 'median_words', median_words FROM med
        UNION ALL SELECT 'dup_permille', n_exact_dups * 1000 // n_docs FROM base
        UNION ALL SELECT 'mean_words_milli', total_words * 1000 // n_docs FROM base
    )
"""


@register("text_corpus_datasheet", oracle=_DATASHEET_ORACLE)
def text_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus datasheet: the dataset-card summary a corpus release ships
    (sizes, vocabulary-of-metadata cardinalities, exact duplicate rate,
    word-length distribution incl. the EXACT median) as one
    (metric, value) table — the read-only capstone that composes the
    profiling families into a publishable artifact.

    Scale shape: one conditional hash aggregate over a single scan
    carries everything except the median, which uses the exact global
    rank of :func:`operators.util.prefix_sums` (no one-task window);
    md5 fingerprints make the dup-rate a count-distinct, never a
    pairwise comparison. All values
    BIGINT (ratios as integer permille/milli)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size(F.split("text", " ")).cast("long").alias("words"),
        F.md5("text").alias("fp"),
    )
    base = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("words").cast("long").alias("total_words"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.count_distinct("source").cast("long").alias("n_sources"),
        (F.count(F.lit(1)) - F.count_distinct("fp")).cast("long").alias("n_exact_dups"),
        F.min("words").cast("long").alias("min_words"),
        F.max("words").cast("long").alias("max_words"),
    )

    # NULL-text docs carry no word length — the median is over defined
    # lengths only, explicitly on BOTH engines (r11: NULLS FIRST vs LAST
    # would otherwise shift the lower-median rank)
    dmed = d.filter(F.col("words").isNotNull())
    n_docs = dmed.count()
    med = (
        prefix_sums(dmed, ["words", "doc_id"], {"r": F.lit(1)})
        .filter(F.col("r") == (n_docs + 1) // 2)
        .select(F.col("words").alias("median_words"))
    )

    def row(src, name, col):
        return src.select(F.lit(name).alias("metric"), F.col(col).cast("long").alias("value"))

    return (
        row(base, "n_docs", "n_docs")
        .unionAll(row(base, "total_chars", "total_chars"))
        .unionAll(row(base, "total_words", "total_words"))
        .unionAll(row(base, "n_langs", "n_langs"))
        .unionAll(row(base, "n_sources", "n_sources"))
        .unionAll(row(base, "n_exact_dups", "n_exact_dups"))
        .unionAll(row(base, "min_words", "min_words"))
        .unionAll(row(base, "max_words", "max_words"))
        .unionAll(row(med, "median_words", "median_words"))
        .unionAll(
            base.select(
                F.lit("dup_permille").alias("metric"),
                F.expr("n_exact_dups * 1000 div n_docs").cast("long").alias("value"),
            )
        )
        .unionAll(
            base.select(
                F.lit("mean_words_milli").alias("metric"),
                F.expr("total_words * 1000 div n_docs").cast("long").alias("value"),
            )
        )
    )


# ---------------------------------------------------------------------------
# n-gram novelty scoring (marginal-diversity curriculum signal)
# ---------------------------------------------------------------------------
_NOVELTY_N = 3  # word trigrams

_NOVELTY_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, {T.ws_tokens_sql('text')} AS w FROM documents
    ),
    g AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(w) - {_NOVELTY_N - 2}, 1)),
                   i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]
               ))) AS gram
        FROM t
    ),
    own AS (
        SELECT gram, MIN(doc_id) AS first_id FROM g GROUP BY gram
    ),
    per AS (
        SELECT g.doc_id,
               COUNT(*)::BIGINT AS n_grams,
               SUM(CASE WHEN o.first_id = g.doc_id THEN 1 ELSE 0 END)::BIGINT
                   AS n_novel
        FROM g JOIN own o ON o.gram = g.gram
        GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_grams, 0)::BIGINT AS n_grams,
           COALESCE(p.n_novel, 0)::BIGINT AS n_novel,
           CASE WHEN p.n_grams > 0 THEN p.n_novel * 1000 // p.n_grams
                ELSE NULL END AS novelty_permille
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN per p ON p.doc_id = d.doc_id
"""


@register("text_ngram_novelty", oracle=_NOVELTY_ORACLE)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the share of a document's distinct
    word trigrams that appear in NO earlier document (first-occurrence
    order = doc_id order) — the marginal-diversity signal data-curation
    pipelines use to order or down-weight redundant documents (a dup's
    novelty is ~0, boilerplate scores low, fresh content high). All
    BIGINT; docs too short for a trigram keep n_grams=0 and a NULL
    ratio on both engines.

    Scale shape: explode distinct trigrams (narrow map), ONE hash
    aggregate for first-owners (min partial-aggregates map-side), one
    hash join back on the gram key, one per-doc aggregate — the same
    two-shuffle postings shape as the dedup family, linear in corpus
    gram volume with no window anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    w = T.ws_tokens(F.col("text"))
    # T.ngrams (slice+zip_with), not transform-over-indices (r12 long-doc
    # edge row): element_at(w, i+j) in the lambda body re-tokenized the
    # whole document per gram — O(len²); the zip form is linear and
    # produces the identical space-joined trigrams ([] short, NULL→no
    # rows after the explode, exactly as before).
    grams = F.coalesce(T.ngrams(w, _NOVELTY_N), F.array().cast("array<string>"))
    g = ensure_parallelism(docs).select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("gram")
    )
    own = g.groupBy("gram").agg(F.min("doc_id").alias("first_id"))
    per = (
        g.join(own, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("first_id") == F.col("doc_id")).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.when(
                F.col("n_grams") > 0,
                F.expr("n_novel * 1000 div n_grams"),
            )
            .cast("long")
            .alias("novelty_permille"),
        )
    )


# --- token-mass concentration (Gini) per source (r10) ---
#
# Exact integer Gini over per-document token counts within each source —
# the diversity/concentration audit a curation pipeline reads before
# setting mixture weights (gini→0: token mass spread evenly across
# documents; gini→1: a few mega-documents carry the source). With
# ascending per-source rank i over counts x_i:
#   gini = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx)
# Every term is BIGINT; the single double divide of exact integers
# (1000·N < 2^53 up to ~10^8 docs·tokens per source — document before
# DECIMAL at larger corpora) makes round() engine-identical.
#
# The oracle computes Σ i·x_i via an ORDERED LIST aggregate, not a
# ROW_NUMBER window — DuckDB 1.0.0's multithreaded window operator can
# nondeterministically split tiny partitions (the root-caused r8 OHLC
# flake); ordered aggregates are the trusted replacement.
_GINI_TOKS = "string_split(text, ' ')"
_GINI_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, source,
               COALESCE(len({_GINI_TOKS}), 0)::BIGINT AS t
        FROM documents
    ),
    m AS (
        SELECT source, list(t ORDER BY t, doc_id) AS xs FROM t GROUP BY source
    ),
    g AS (
        SELECT source, len(xs)::BIGINT AS n, list_sum(xs)::BIGINT AS tot,
               list_sum(list_transform(range(1, len(xs) + 1),
                                       i -> i * xs[i]))::BIGINT AS s
        FROM m
    )
    SELECT source, n AS n_docs, tot AS total_tokens,
           CASE WHEN tot > 0
                THEN CAST(ROUND(1000.0 * (2 * s - (n + 1) * tot)
                                / (n * tot), 0) AS BIGINT)
                ELSE NULL END AS gini_permille
    FROM g
"""


@register("text_source_token_gini", oracle=_GINI_ORACLE)
def text_source_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini coefficient of token mass across documents — the
    concentration audit behind mixture-weight decisions (a source whose
    tokens sit in a handful of mega-documents needs different treatment
    from one with the same token total spread over millions of pages).

    Scale shape: per-source ranks i over (t, doc_id) come from
    :func:`operators.util.prefix_sums` grouped by source (no single-task
    window, and crucially no window-partition-per-source, which would
    serialize each source's millions of documents through one task at
    100 TB) — so one hash aggregate of Σ i·x finishes the job. Σ i·x ≤
    n²·max_tokens stays BIGINT-exact far past any real corpus; ×1000
    stays double-exact at gate SFs."""
    docs = load_table(spark, sf_dir, "documents")
    # NULL text → 0 tokens on BOTH engines (code-review r10 catch: a bare
    # size() is NULL under ANSI, and Spark ranks NULLs FIRST while
    # DuckDB's ordered-list aggregate puts them LAST — one NULL-text row
    # would shift every rank and corrupt Σ i·x). t=0 sorts first
    # deterministically everywhere and contributes no token mass.
    d = docs.select(
        "doc_id",
        "source",
        F.coalesce(F.size(T.ws_tokens(F.col("text"))), F.lit(0))
        .cast("long")
        .alias("t"),
    )
    ranked = prefix_sums(d, ["t", "doc_id"], {"i": F.lit(1)}, group_cols=["source"])
    m = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("tot"),
        F.sum(F.col("i") * F.col("t")).cast("long").alias("s"),
    )
    return m.select(
        "source",
        F.col("n").alias("n_docs"),
        F.col("tot").alias("total_tokens"),
        F.when(
            F.col("tot") > 0,
            F.round(
                1000.0 * (2 * F.col("s") - (F.col("n") + 1) * F.col("tot"))
                / (F.col("n") * F.col("tot")),
                0,
            ).cast("long"),
        )
        .otherwise(F.lit(None).cast("long"))
        .alias("gini_permille"),
    )
