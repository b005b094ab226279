"""Statistical-LM / tokenizer-training / privacy / behavioral analytics —
the remaining operators a large-scale training-data pipeline runs that the
repo didn't yet cover as first-class queries:

- ``text_bigram_lm_quality``: score every document under a bigram language
  model *trained on the corpus itself* (add-one smoothing) — the classic
  perplexity-style quality filter (KenLM-shaped, scaled down to bigrams).
- ``bpe_top_pairs``: the hot loop of BPE tokenizer training — corpus-wide
  adjacent-symbol-pair counting (one merge step's candidate table).
- ``text_pii_redaction``: regex PII scrubbing (emails / phone numbers)
  with planted deterministic PII so the gate covers real matches.
- ``events_retention_cohorts``: first-activity cohort × week-offset
  retention matrix.
- ``events_sessionize_gap``: batch sessionization (30-min inactivity gap)
  via lag + running flag-sum — the batch twin of the streaming
  session-window query (plans/streaming_q.py).

Scale notes per query in the docstrings. All five carry full value-hash
oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lithops_dataframe_spark import cache

from lithops_dataframe_spark.catalog import load_table
from lithops_dataframe_spark.operators.util import ensure_parallelism
from lithops_dataframe_spark.plans.registry import register

# ---------------------------------------------------------------------------
# bigram LM quality scoring
# ---------------------------------------------------------------------------
_BIGRAM_ORACLE = """
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
        FROM tok WHERE len(w) >= 2
    ),
    c2 AS (SELECT g, COUNT(*) AS c2 FROM bg GROUP BY g),
    uni AS (SELECT unnest(w) AS t FROM tok),
    c1 AS (SELECT t, COUNT(*) AS c1 FROM uni GROUP BY t),
    v AS (SELECT COUNT(DISTINCT t) AS v FROM uni),
    scored AS (
        SELECT bg.doc_id, ln((c2.c2 + 1.0) / (c1.c1 + v.v)) AS lp
        FROM bg
        JOIN c2 USING (g)
        JOIN c1 ON c1.t = string_split(bg.g, ' ')[1]
        CROSS JOIN v
    )
    SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams, ROUND(AVG(lp), 4) AS avg_logprob
    FROM scored GROUP BY doc_id
"""


@register("text_bigram_lm_quality", oracle=_BIGRAM_ORACLE)
def text_bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality scoring: train bigram/unigram counts over
    the corpus (two hash aggregates), then score each document's average
    log P(w_i | w_{i-1}) with add-one smoothing.

    Scale shape: the LM *is* corpus-sized, so scoring is an equi-join of
    doc-bigram postings against the bigram count table on the bigram key —
    shuffle carries (doc_id, bigram) pairs, never text. Vocabulary size
    rides as a one-row broadcast frame (no driver scalar, same pattern as
    text_hashed_tfidf). In production the trained counts are written once
    and reused; here train+score run in one plan so the oracle can replay
    both."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    w = F.split("text", " ")
    tok = docs.select("doc_id", w.alias("w"))
    bg = tok.filter(F.size("w") >= 2).select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, size(w) - 1), i -> concat(w[i-1], ' ', w[i]))")
        ).alias("g"),
    )
    c2 = bg.groupBy("g").agg(F.count(F.lit(1)).alias("c2"))
    uni = tok.select(F.explode("w").alias("t"))
    c1 = uni.groupBy("t").agg(F.count(F.lit(1)).alias("c1"))
    v = uni.agg(F.count_distinct("t").alias("v"))
    scored = (
        bg.join(c2, "g")
        .withColumn("t", F.split("g", " ")[0])
        .join(c1, "t")
        .crossJoin(F.broadcast(v))
        .select("doc_id", F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v"))).alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.round(F.avg("lp"), 4).alias("avg_logprob")
    )


# ---------------------------------------------------------------------------
# BPE pair counting (one tokenizer-training merge step)
# ---------------------------------------------------------------------------
_BPE_TOPK = 20

_BPE_ORACLE = f"""
    WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wc AS (SELECT w, COUNT(*) AS n FROM words WHERE len(w) >= 2 GROUP BY w),
    pairs AS (
        SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, i::INT, 2))) AS pair,
               n
        FROM wc
    ),
    agg AS (SELECT pair, SUM(n)::BIGINT AS cnt FROM pairs GROUP BY pair),
    ranked AS (
        SELECT pair, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rank
        FROM agg
    )
    SELECT pair, cnt, rank::INT AS rank FROM ranked WHERE rank <= {_BPE_TOPK}
"""


@register("bpe_top_pairs", oracle=_BPE_ORACLE)
def bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training merge step at corpus scale: count adjacent
    character pairs weighted by word frequency, rank the merge candidates.

    Scale shape: pair generation runs over the *distinct-word* table (the
    standard BPE trick — corpus scale collapses to vocabulary scale before
    any explosion), so the explode emits len(w)-1 two-char slices per
    vocab entry, then one hash aggregate + a TopK (rank ≤ 20 via
    row_number over a single ordered partition of the already-aggregated
    pair table — small by construction). Iterating merges re-runs this
    plan on re-segmented symbols; the candidate table shape is identical."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = wc.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "n",
    )
    agg = pairs.groupBy("pair").agg(F.sum("n").alias("cnt"))
    ranked = agg.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("cnt").desc(), F.col("pair"))).cast("int"),
    )
    return ranked.filter(F.col("rank") <= _BPE_TOPK).select("pair", "cnt", "rank")


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------
# engine-portable regexes (identical semantics in Java regex and RE2)
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"

# planted deterministic PII (the fixture corpus is a clean word salad, so
# without planting, the regexes would never fire and the gate would be
# vacuous — same lesson as mm_phash_neardup in round 2)
_AUG_SQL = """
    (text
     || CASE WHEN doc_id % 7 = 0
             THEN ' contact user' || doc_id::VARCHAR || '@example.com now' ELSE '' END
     || CASE WHEN doc_id % 11 = 0
             THEN ' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' today'
             ELSE '' END)
"""

_PII_ORACLE = f"""
    WITH aug AS (SELECT doc_id, {_AUG_SQL} AS t FROM documents),
    red AS (
        SELECT doc_id, t,
               len(regexp_extract_all(t, '{_EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(t, '{_PHONE_RE}')) AS n_phones,
               regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g') AS clean
        FROM aug
    )
    SELECT doc_id, n_emails::INT AS n_emails, n_phones::INT AS n_phones,
           length(clean)::INT AS clean_len, md5(clean) AS clean_md5
    FROM red
"""


@register("text_pii_redaction", oracle=_PII_ORACLE)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: count and redact emails / phone numbers with
    engine-portable regexes; redacted text proven by md5, not just length.
    Pure per-row JVM expressions (regexp_count / regexp_replace) — zero
    shuffle, whole-stage codegen, linear at any scale."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                    F.lit(" today"),
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return aug.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
        F.length(clean).cast("int").alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# retention cohorts
# ---------------------------------------------------------------------------
_RETENTION_ORACLE = """
    WITH act AS (
        SELECT DISTINCT user_id, time_bucket(INTERVAL '1 day', ts) AS day FROM events
    ),
    cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY user_id)
    SELECT c.cohort_day,
           (date_diff('day', c.cohort_day, a.day) // 7)::INT AS week_offset,
           COUNT(DISTINCT a.user_id)::BIGINT AS n_users
    FROM act a JOIN cohort c USING (user_id)
    GROUP BY 1, 2
"""


@register("events_retention_cohorts", oracle=_RETENTION_ORACLE)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day,
    counted per week offset. One shuffle on user_id computes cohorts
    (window MIN avoids a re-aggregate+rejoin), then one hash aggregate on
    (cohort_day, week_offset)."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select("user_id", F.date_trunc("day", "ts").alias("day")).distinct()
    act = act.withColumn("cohort_day", F.min("day").over(Window.partitionBy("user_id")))
    return act.groupBy(
        "cohort_day",
        (F.floor(F.datediff("day", "cohort_day") / 7)).cast("int").alias("week_offset"),
    ).agg(F.count_distinct("user_id").alias("n_users"))


# ---------------------------------------------------------------------------
# batch sessionization (30-min gap)
# ---------------------------------------------------------------------------
_SESSIONIZE_ORACLE = """
    WITH o AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM o
    )
    SELECT user_id, session_idx::INT AS session_idx,
           COUNT(*)::BIGINT AS n_events,
           MIN(ts) AS start_ts,
           date_diff('second', MIN(ts), MAX(ts))::BIGINT AS dur_seconds
    FROM s GROUP BY user_id, session_idx
"""


@register("events_sessionize_gap", oracle=_SESSIONIZE_ORACLE)
def events_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization, the offline twin of stream_session_windows:
    lag-gap flags session starts, a running sum assigns session indexes,
    one aggregate emits per-session stats. Single shuffle on user_id; both
    windows and the final groupBy share that partitioning, so Exchange is
    planned once (ties broken by event_id for determinism)."""
    ev = load_table(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ → epoch micros via an LTZ cast (session pins UTC)
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        us.alias("us"),
        F.when(
            F.lag("ts").over(w).isNull()
            | (us - F.lag(us).over(w) > 1800 * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    sess = flagged.withColumn(
        "session_idx",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    )
    # DuckDB's date_diff('second', a, b) counts SECOND BOUNDARIES crossed
    # (floor(epoch b) - floor(epoch a)), not the truncated microsecond
    # difference — floor per row first, then diff of aggregates (floor is
    # monotone, so max/min commute with it)
    sess = sess.withColumn("es", F.floor(F.col("us") / 1_000_000).cast("long"))
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("start_ts"),
        (F.max("es") - F.min("es")).alias("dur_seconds"),
    )


# ---------------------------------------------------------------------------
# EWMA (exponentially weighted moving average) — a RECURSIVE per-key fold
# ---------------------------------------------------------------------------
_EWMA_ALPHA = 0.2

_EWMA_ORACLE = f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(list_reduce(list(value::DOUBLE ORDER BY ts, event_id),
                             (acc, x) -> acc * {1 - _EWMA_ALPHA} + {_EWMA_ALPHA} * x),
                 6) AS ewma
    FROM events GROUP BY user_id
"""


@register("events_ewma_user_value", oracle=_EWMA_ORACLE)
def events_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values — a genuinely RECURSIVE per-key fold
    (y_t = (1-α)·y_{t-1} + α·x_t) that no window frame expresses. Shape:
    one shuffle groups each user's events, an ordered collect builds the
    per-key sequence, and a JVM-side ``aggregate`` lambda folds it —
    state per task is one user's sequence, never the stream. The oracle
    folds the identical ordered list with DuckDB's list_reduce (same
    seed = first element, same left-to-right order → bit-identical before
    the final rounding)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    grouped = ev.select("user_id", us.alias("us"), "event_id", F.col("value").cast("double").alias("v")).groupBy(
        "user_id"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("us", "event_id", "v"))),
            lambda s: s.getField("v"),
        ).alias("vals"),
    )
    a = _EWMA_ALPHA
    ewma = F.aggregate(
        F.slice(F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0))),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: acc * (1 - a) + a * x,
    )
    return grouped.select("user_id", "n_events", F.round(ewma, 6).alias("ewma"))


# ---------------------------------------------------------------------------
# graph analytics: triangle counting on the user co-activity graph
# ---------------------------------------------------------------------------
_TRI_ORACLE = """
    WITH act AS (
        SELECT DISTINCT user_id, time_bucket(INTERVAL '1 day', ts) AS day
        FROM events WHERE user_id % 101 < 20
    ),
    e AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM act a JOIN act b ON a.day = b.day AND a.user_id < b.user_id
    ),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT COUNT(*)::BIGINT AS n_triangles,
           (SELECT COUNT(*) FROM e)::BIGINT AS n_edges,
           (SELECT COUNT(*) FROM (SELECT DISTINCT user_id FROM act))::BIGINT AS n_nodes
    FROM tri
"""


@register("graph_triangle_count", oracle=_TRI_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over a SAMPLED user co-activity graph (users active
    on the same day are adjacent; a deterministic ~20% user cohort is
    sampled first). Sampling is load-bearing, not a shortcut: day-level
    co-occurrence graphs are dense by construction (every co-active pair
    is an edge), so exhaustive triangle counting grows cubically with the
    cohort — production systems count triangles on vertex-sampled
    subgraphs and scale up the estimate. Edges are ORIENTED by id
    (u < v), so each triangle is enumerated exactly once as a < b < c via
    two equi-joins — the standard distributed algorithm; at real scale
    the orientation key switches to degree order, bounding join fan-out
    by arboricity. Plan shape: edge self-joins on oriented endpoints."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 101 < 20)
    act = ev.select("user_id", F.date_trunc("day", "ts").alias("day")).distinct()
    a, b = act.alias("a"), act.alias("b")
    e = (
        a.join(b, (F.col("a.day") == F.col("b.day")) & (F.col("a.user_id") < F.col("b.user_id")))
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
        .persist()
    )
    cache.track(e)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(e3, (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")))
    )
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_nodes = act.select("user_id").distinct().agg(F.count(F.lit(1)).alias("n_nodes"))
    return n_tri.crossJoin(n_edges).crossJoin(n_nodes)


# ---------------------------------------------------------------------------
# BPE tokenizer TRAINING (round 4) — the full merge-learning loop
# ---------------------------------------------------------------------------

_BPE_MERGES = 6
_BPE_MAX_WORDS = 2000


def _bpe_oracle(n_merges: int, max_words: int) -> str:
    """Unrolled DuckDB replay of operators/bpe.py::bpe_train: the same
    word-frequency table, then per iteration the same pair-count argmax
    (ties: count desc, pair asc) and the same greedy left-to-right merge
    application, expressed relationally (self-joins and run-parity
    windows) — an independent check of the driver-side Python loop."""
    sql = _bpe_oracle_ctes(n_merges, max_words)
    finals = [
        f"SELECT {k} AS step, s1 AS left_sym, s2 AS right_sym, "
        f"s1 || s2 AS merged, c::BIGINT AS pair_count FROM top{k}"
        for k in range(n_merges)
    ]
    return sql + "\n" + "\nUNION ALL\n".join(finals)


def _bpe_oracle_ctes(n_merges: int, max_words: int) -> str:
    """The WITH chain shared by the training oracle (reads the per-step
    ``top{k}`` argmax CTEs) and the encoding oracle (reads the final
    ``tok{n_merges}`` table — the encoded vocabulary)."""
    sql = f"""
    WITH w AS MATERIALIZED (
        SELECT word, COUNT(*)::BIGINT AS cnt FROM (
            SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
            FROM documents
        ) WHERE length(word) > 0
        GROUP BY word ORDER BY cnt DESC, word LIMIT {max_words}
    ),
    tok0 AS MATERIALIZED (
        SELECT word AS wid, cnt, i AS pos, substr(word, i, 1) AS sym
        FROM w, UNNEST(range(1, length(word) + 1)) AS t(i)
    )"""
    for k in range(n_merges):
        sql += f""",
    p{k} AS MATERIALIZED (
        SELECT a.sym AS s1, b.sym AS s2, SUM(a.cnt) AS c
        FROM tok{k} a JOIN tok{k} b ON a.wid = b.wid AND b.pos = a.pos + 1
        GROUP BY 1, 2
    ),
    top{k} AS MATERIALIZED (SELECT s1, s2, c FROM p{k} ORDER BY c DESC, s1, s2 LIMIT 1),
    m{k} AS MATERIALIZED (
        SELECT a.wid, a.pos
        FROM tok{k} a JOIN tok{k} b ON a.wid = b.wid AND b.pos = a.pos + 1, top{k} t
        WHERE a.sym = t.s1 AND b.sym = t.s2
    ),
    keep{k} AS MATERIALIZED (
        SELECT wid, pos FROM (
            SELECT wid, pos,
                   ROW_NUMBER() OVER (PARTITION BY wid, run ORDER BY pos) - 1 AS r
            FROM (SELECT wid, pos,
                         pos - ROW_NUMBER() OVER (PARTITION BY wid ORDER BY pos) AS run
                  FROM m{k})
        ) WHERE r % 2 = 0
    ),
    tok{k + 1} AS MATERIALIZED (
        SELECT wid, cnt, ROW_NUMBER() OVER (PARTITION BY wid ORDER BY pos) AS pos, sym
        FROM (
            SELECT t.wid, t.cnt, t.pos,
                   CASE WHEN kh.pos IS NOT NULL
                        THEN (SELECT s1 || s2 FROM top{k}) ELSE t.sym END AS sym
            FROM tok{k} t
            LEFT JOIN keep{k} kh ON kh.wid = t.wid AND kh.pos = t.pos
            LEFT JOIN keep{k} kp ON kp.wid = t.wid AND kp.pos = t.pos - 1
            WHERE kp.pos IS NULL
        )
    )"""
    return sql


@register("bpe_train_merges", oracle=_bpe_oracle(_BPE_MERGES, _BPE_MAX_WORDS))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL BPE tokenizer training (upgrades r3's single-step
    bpe_top_pairs): six merge-learning iterations over the word-frequency
    table, each adopting the most frequent adjacent symbol pair and
    applying it to every word with greedy left-to-right semantics (see
    operators/bpe.py for the 100 TB cost argument: Spark runs one word
    count, and the merge loop runs on the driver over the capped
    vocabulary, never the corpus). Every learned rule is hash-verified
    against a DuckDB replay of the identical algorithm."""
    from lithops_dataframe_spark.operators.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train(docs, "text", n_merges=_BPE_MERGES, max_words=_BPE_MAX_WORDS)


_BPE_ENCODE_ORACLE = (
    _bpe_oracle_ctes(_BPE_MERGES, _BPE_MAX_WORDS)
    + f"""
    SELECT sym,
           SUM(cnt)::BIGINT AS occurrences,
           COUNT(DISTINCT wid)::BIGINT AS n_words
    FROM tok{_BPE_MERGES}
    GROUP BY sym
    ORDER BY occurrences DESC, sym ASC
    LIMIT 25
"""
)


@register("bpe_encode_token_stats", oracle=_BPE_ENCODE_ORACLE)
def bpe_encode_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE with the trained BPE (round 5 — completes the tokenizer
    story: r3 counted one merge step, r4 learned the rules, this applies
    them). The final post-merge token table IS the encoded vocabulary;
    encoding a corpus is that bounded table joined to the corpus's word
    occurrences, so the merge loop never touches the corpus — at 100 TB
    the corpus pass is the single word count the vocabulary was built
    from (out-of-vocabulary rare words would fall back to the same apply
    loop over their own distinct-word table; cost ∝ tail vocabulary).

    Output: the 25 most frequent corpus-weighted subword tokens with the
    number of distinct vocabulary words containing each — the table a
    tokenizer ships as its vocab head. The oracle replays training AND
    encoding (the same unrolled CTE chain's final ``tok6`` table), so
    every emitted token and both counts are full value-hash checked."""
    from lithops_dataframe_spark.operators.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    _, tok = bpe_train(
        docs, "text", n_merges=_BPE_MERGES, max_words=_BPE_MAX_WORDS, return_tokens=True
    )
    return (
        tok.groupBy("sym")
        .agg(
            F.sum("cnt").alias("occurrences"),
            F.count_distinct("wid").alias("n_words"),
        )
        .orderBy(F.col("occurrences").desc(), F.col("sym").asc())
        .limit(25)
    )


# ---------------------------------------------------------------------------
# graph analytics: PageRank with DISTRIBUTED iterative state (round 5)
# ---------------------------------------------------------------------------
_PR_ITERS = 5
_PR_INIT = 1_000_000_000  # fixed-point units per node (1.0 rank)
_PR_BASE = 150_000_000  # (1 - damping) * INIT with damping = 0.85


def _pagerank_oracle(iters: int) -> str:
    sql = """
    WITH act AS MATERIALIZED (
        SELECT DISTINCT user_id, time_bucket(INTERVAL '1 day', ts) AS day
        FROM events WHERE user_id % 101 < 20
    ),
    e0 AS MATERIALIZED (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM act a JOIN act b ON a.day = b.day AND a.user_id < b.user_id
    ),
    e AS MATERIALIZED (
        SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
    ),
    deg AS MATERIALIZED (SELECT u, COUNT(*)::BIGINT AS outdeg FROM e GROUP BY u),
    ed AS MATERIALIZED (SELECT e.u, e.v, d.outdeg FROM e JOIN deg d ON d.u = e.u),
    r0 AS MATERIALIZED (SELECT u AS node, 1000000000::BIGINT AS rank FROM deg)"""
    for k in range(iters):
        sql += f""",
    r{k + 1} AS MATERIALIZED (
        SELECT ed.v AS node,
               150000000::BIGINT
                 + SUM((r.rank * 85) // (100 * ed.outdeg))::BIGINT AS rank
        FROM ed JOIN r{k} r ON r.node = ed.u GROUP BY ed.v
    )"""
    return sql + f"""
    SELECT node AS user_id, rank AS rank_fp
    FROM r{iters} ORDER BY rank DESC, node ASC LIMIT 20
"""


def _coactivity_edges(
    spark: SparkSession, sf_dir: str, *, band_stride: int | None = None
) -> DataFrame:
    """Symmetric (u, v) co-activity edge list shared by the graph queries:
    sampled users (user_id % 101 < 20) who were active on the same day.
    ``band_stride`` keeps pair discovery copy-local on the key-shifted
    scale fixture (see :func:`pagerank_topk`)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 101 < 20)
    act = ev.select("user_id", F.date_trunc("day", "ts").alias("day")).distinct()
    a, b = act.alias("a"), act.alias("b")
    cond = (F.col("a.day") == F.col("b.day")) & (
        F.col("a.user_id") < F.col("b.user_id")
    )
    if band_stride is not None:
        cond = cond & (
            F.expr(f"a.user_id div {band_stride}")
            == F.expr(f"b.user_id div {band_stride}")
        )
    e0 = (
        a.join(b, cond)
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )
    return e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))


def pagerank_topk(
    spark: SparkSession, sf_dir: str, *, band_stride: int | None = None
) -> DataFrame:
    """Shared PageRank builder — see :func:`graph_pagerank` for semantics.

    ``band_stride``: when set, co-activity pairs are additionally required
    to share a user-id band (``user_id div band_stride``). On the base
    fixtures every user falls in band 0, so the edge set (and result) is
    IDENTICAL to the unbanded query; on the key-shifted N× scale fixture
    (tools/scale_fixture.py, stride 1e8) bands coincide with the copies,
    keeping edge discovery copy-local so the curve measures the iterative
    join+agg loop's scaling instead of the fixture's quadratic
    cross-copy densification (bench.py 'graph_iter' family)."""
    e = _coactivity_edges(spark, sf_dir, band_stride=band_stride)
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg"))
    # reused every iteration — persisted PRE-PARTITIONED on u (the
    # degree join broadcasts, leaving the union's unknown partitioning),
    # so none of the _PR_ITERS round joins re-shuffles the edge side
    # (r12, guide §2.4)
    ed = cache.persist_tracked(e.join(deg, "u").repartition("u"))

    ranks = deg.select(F.col("u").alias("node"), F.lit(_PR_INIT).cast("long").alias("rank"))
    for _ in range(_PR_ITERS):
        ranks = (
            ed.join(ranks, ed.u == ranks.node)
            .groupBy("v")
            .agg(
                (
                    F.lit(_PR_BASE).cast("long")
                    + F.sum(F.expr("(rank * 85) div (100 * outdeg)"))
                ).alias("rank")
            )
            .select(F.col("v").alias("node"), "rank")
        )
    return (
        ranks.orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(20)
        .select(F.col("node").alias("user_id"), F.col("rank").alias("rank_fp"))
    )


@register("graph_pagerank", oracle=_pagerank_oracle(_PR_ITERS))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the sampled user co-activity graph (round 5) — the
    DISTRIBUTED-state iterative family, complementing the repo's
    driver-state training loops (k-means/LR/PCA hold model-sized vectors
    on the driver; here the rank vector itself is a DataFrame that never
    leaves the cluster). Each of the 5 iterations is one equi-join of the
    persisted (u, v, outdeg) edge list with the current rank frame plus
    one aggregate — the canonical bulk-synchronous PageRank step; at
    100 TB ranks and edges co-partition on the source key so the join is
    shuffle-free after the first iteration.

    EXACT oracle with no float tolerance: ranks are 1e-9 fixed-point
    BIGINTs (damping 0.85 applied as ``rank * 85 div (100 * outdeg)``) —
    integer multiply/divide/sum replay bit-identically in DuckDB's
    unrolled MATERIALIZED-CTE chain, sidestepping the summation-order
    drift a double-valued PageRank would need rounding discipline for.
    Symmetric edges mean every node has out-degree ≥ 1 — no dangling-mass
    term. Output: top-20 users by final fixed-point rank."""
    return pagerank_topk(spark, sf_dir)


# ---------------------------------------------------------------------------
# graph analytics: semi-supervised label propagation (round 6)
# ---------------------------------------------------------------------------
_LPA_ITERS = 4


def _lpa_oracle(iters: int) -> str:
    sql = """
    WITH act AS MATERIALIZED (
        SELECT DISTINCT user_id, time_bucket(INTERVAL '1 day', ts) AS day
        FROM events WHERE user_id % 101 < 20
    ),
    e0 AS MATERIALIZED (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM act a JOIN act b ON a.day = b.day AND a.user_id < b.user_id
    ),
    e AS MATERIALIZED (
        SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM e),
    seeds AS MATERIALIZED (
        SELECT node, (node % 5)::BIGINT AS lab FROM nodes WHERE node % 7 = 0
    ),
    l0 AS MATERIALIZED (
        SELECT n.node, s.lab FROM nodes n LEFT JOIN seeds s USING (node)
    )"""
    for k in range(iters):
        sql += f""",
    p{k} AS MATERIALIZED (
        SELECT e.v AS node, l.lab, COUNT(*)::BIGINT AS c
        FROM e JOIN l{k} l ON l.node = e.u
        WHERE l.lab IS NOT NULL GROUP BY e.v, l.lab
    ),
    m{k} AS MATERIALIZED (
        SELECT node, lab FROM (
            SELECT node, lab,
                   ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY c DESC, lab ASC) AS rn
            FROM p{k}
        ) WHERE rn = 1
    ),
    l{k + 1} AS MATERIALIZED (
        SELECT n.node, COALESCE(s.lab, m.lab) AS lab
        FROM nodes n LEFT JOIN seeds s USING (node)
                     LEFT JOIN m{k} m USING (node)
    )"""
    return sql + f"""
    SELECT COALESCE(lab, -1)::BIGINT AS label, COUNT(*)::BIGINT AS n_nodes,
           MIN(node)::BIGINT AS min_node, MAX(node)::BIGINT AS max_node
    FROM l{iters} GROUP BY 1
"""


def label_propagation_counts(
    spark: SparkSession, sf_dir: str, *, band_stride: int | None = None
) -> DataFrame:
    """Shared LPA builder — see :func:`graph_label_propagation` for
    semantics. ``band_stride`` keeps edge discovery copy-local on the
    key-shifted scale fixture (identity on the base fixture), exactly as
    in :func:`pagerank_topk` — the curve then measures the BSP
    join+agg+argmax loop, not the fixture's cross-copy densification."""
    # Persist the edge list PRE-PARTITIONED on the loop's join key (r12,
    # guide §2.4 "two operations keyed the same way share one exchange"):
    # the symmetric union's output partitioning is unknown, so without
    # this every one of the _LPA_ITERS round joins re-shuffled the edges
    # by u; cached hashpartitioning(u) makes the per-round join
    # exchange-free on the edge side.
    e = cache.persist_tracked(
        _coactivity_edges(spark, sf_dir, band_stride=band_stride).repartition("u")
    )
    nodes = e.select(F.col("u").alias("node")).distinct()
    seeded = cache.persist_tracked(
        nodes.withColumn(
            "slab",
            F.when(F.col("node") % 7 == 0, (F.col("node") % 5).cast("long")),
        )
    )
    labels = seeded.select("node", F.col("slab").alias("lab"))
    for _ in range(_LPA_ITERS):
        counts = (
            e.join(labels, e.u == labels.node)
            .where(F.col("lab").isNotNull())
            .groupBy(F.col("v").alias("node"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax-by-hash-aggregate, not a row_number window: a per-node
        # sort exchange every round becomes a second (partial-combining)
        # hash aggregate. max(struct(c, -lab)) IS "most votes, smallest
        # label on ties" — the exact ordering the oracle's row_number
        # replays, so the semantics are unchanged.
        mode = counts.groupBy("node").agg(
            F.max(F.struct(F.col("c"), (-F.col("lab")).alias("nl"))).alias("m")
        ).select("node", (-F.col("m.nl")).alias("plab"))
        labels = seeded.join(mode, "node", "left").select(
            "node", F.coalesce("slab", "plab").alias("lab")
        )
    return labels.groupBy(
        F.coalesce("lab", F.lit(-1)).cast("long").alias("label")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.min("node").cast("long").alias("min_node"),
        F.max("node").cast("long").alias("max_node"),
    )


@register("graph_label_propagation", oracle=_lpa_oracle(_LPA_ITERS))
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the co-activity graph —
    the community/classification twin of :func:`graph_pagerank`'s
    distributed-iterative family: 1-in-7 nodes are seeded with a class
    (node % 5), and each synchronous round every node takes the MODE of
    its labeled neighbors' classes (``max(struct(count, -label))`` argmax
    — ties break to the smallest label, making every round
    bit-deterministic), with seeds clamped to their class. Unlabeled
    nodes stay NULL (reported as -1) until a labeled neighbor reaches
    them.

    Scale shape: each round is one equi-join of the persisted edge list
    with the current label frame + TWO partial-combining hash aggregates
    (vote counts, then per-node argmax — no sort-window exchange in the
    loop) — the canonical BSP step; labels co-partition with
    edges on the source key at scale. State lives in a DataFrame, never
    on the driver. All-integer semantics → the unrolled MATERIALIZED-CTE
    oracle replays the fixed iteration count bit-identically."""
    return label_propagation_counts(spark, sf_dir)


# ---------------------------------------------------------------------------
# tokenizer fertility per language (tokens-per-word under the trained BPE)
# ---------------------------------------------------------------------------
_FERTILITY_ORACLE = (
    _bpe_oracle_ctes(_BPE_MERGES, _BPE_MAX_WORDS)
    + f""",
    tw AS (
        SELECT wid, MAX(pos)::BIGINT AS n_toks FROM tok{_BPE_MERGES} GROUP BY wid
    ),
    lw AS (
        SELECT lang, word, COUNT(*)::BIGINT AS cnt FROM (
            SELECT lang,
                   unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
            FROM documents
        ) WHERE length(word) > 0
        GROUP BY lang, word
    )
    SELECT lang,
           SUM(CASE WHEN tw.wid IS NOT NULL THEN lw.cnt ELSE 0 END)::BIGINT
               AS vocab_words,
           SUM(CASE WHEN tw.wid IS NULL THEN lw.cnt ELSE 0 END)::BIGINT
               AS oov_words,
           SUM(CASE WHEN tw.wid IS NOT NULL THEN lw.cnt * tw.n_toks
                    ELSE 0 END)::BIGINT AS tokens,
           (SUM(CASE WHEN tw.wid IS NOT NULL THEN lw.cnt * tw.n_toks ELSE 0 END)
            * 1000
            // SUM(CASE WHEN tw.wid IS NOT NULL THEN lw.cnt ELSE 0 END))::BIGINT
               AS fertility_permille
    FROM lw LEFT JOIN tw ON tw.wid = lw.word
    GROUP BY lang
"""
)


@register("bpe_fertility_by_lang", oracle=_FERTILITY_ORACLE)
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: average tokens-per-word under the
    TRAINED BPE, per language, plus the out-of-vocabulary word volume —
    the fairness metric every multilingual tokenizer report publishes
    (a language with fertility 2× pays 2× the context window and 2× the
    serving cost; OOV volume says whose text the vocab never learned).

    Scale shape: the per-word token count comes from the trained
    vocabulary table (bounded by max_words, never the corpus); the
    per-language word counts are one corpus scan + hash aggregate; the
    join is vocabulary-sized and broadcastable. The oracle replays
    training + encoding through the same unrolled CTE chain, so every
    count and the integer-permille fertility hash-match."""
    from lithops_dataframe_spark.operators.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    _, tok = bpe_train(
        docs, "text", n_merges=_BPE_MERGES, max_words=_BPE_MAX_WORDS, return_tokens=True
    )
    tw = tok.groupBy("wid").agg(F.max("pos").cast("long").alias("n_toks"))
    lw = (
        docs.select(
            "lang",
            F.explode(
                F.split(F.lower("text"), "[^a-z0-9]+")
            ).alias("word"),
        )
        .filter(F.length("word") > 0)
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    j = lw.join(F.broadcast(tw), lw.word == tw.wid, "left")
    in_vocab = F.col("wid").isNotNull()
    return j.groupBy("lang").agg(
        F.sum(F.when(in_vocab, F.col("cnt")).otherwise(0)).cast("long").alias("vocab_words"),
        F.sum(F.when(~in_vocab, F.col("cnt")).otherwise(0)).cast("long").alias("oov_words"),
        F.sum(F.when(in_vocab, F.col("cnt") * F.col("n_toks")).otherwise(0))
        .cast("long")
        .alias("tokens"),
        F.expr(
            "sum(CASE WHEN wid IS NOT NULL THEN cnt * n_toks ELSE 0 END) * 1000 "
            "div sum(CASE WHEN wid IS NOT NULL THEN cnt ELSE 0 END)"
        )
        .cast("long")
        .alias("fertility_permille"),
    )
