"""Text-analysis primitives for large-scale corpus pipelines (SURVEY §2.11).

Reference context: the reference has no text functions — all scalar work is
whatever the user's pandas closure does inside ``apply`` (core.py:253-256).
This module supplies the north-star text surface, every primitive as a
JVM-side expression (no Python UDFs in the hot path) with a DuckDB SQL twin
generated from the same constants, so every operator is hash-checkable.

Primitives:
- tokenization: whitespace + BPE-ish regex ([A-Za-z]+ | digits | single
  punctuation) — the regex is RE2/Java-portable by construction;
- language-ID: stopword-profile voting over fixed per-language lists,
  deterministic argmax with fixed branch order;
- quality scoring: length/punctuation/digit/stopword/uniqueness ratios
  combined into a fixed-weight score;
- fingerprinting: mod-p winnowing over hashed word n-grams (the
  Rabin-Karp/winnowing family: hash every n-gram, keep h % W == 0 — a
  position-independent fingerprint set selection).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from lithops_dataframe_spark.functions import hashing as H

#: BPE-ish token regex — letters run | digit run | single other non-space.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: Per-language stopword profiles (fixed vocab constants; branch order in
#: language_id is the sorted key order of this dict).
STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "zu", "in", "ein", "ist"],
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "est"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2", "you3", "wo3", "ta1"],
}
LANGS = sorted(STOPWORDS)

#: Winnowing parameters: word n-gram size and the mod-W selection divisor.
WINNOW_N = 3
WINNOW_W = 8

#: Quality-score weights: (tokens per char, uniq ratio, stopword ratio,
#: alpha ratio) — fixed constants shared with the SQL twin.
QW_TOK, QW_UNIQ, QW_STOP, QW_ALPHA = 0.2, 0.3, 0.2, 0.3


# ---------------------------------------------------------------------------
# tokenization
# ---------------------------------------------------------------------------
def ws_tokens(text: Column) -> Column:
    """Whitespace (single-space) tokens — matches string_split in DuckDB."""
    return F.split(text, " ")


def ws_tokens_sql(expr: str) -> str:
    return f"string_split({expr}, ' ')"


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-ish tokens: letter runs, digit runs, single punctuation marks."""
    return F.regexp_extract_all(text, F.lit(TOKEN_RE), 0)


def bpe_ish_tokens_sql(expr: str) -> str:
    return f"regexp_extract_all({expr}, '{TOKEN_RE}')"


# ---------------------------------------------------------------------------
# counting / ratio features
# ---------------------------------------------------------------------------
def stopword_hits(tokens: Column, words: list[str]) -> Column:
    """Occurrence count (with multiplicity) of `words` in a token array."""
    return F.aggregate(
        tokens,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.when(t.isin(*words), F.lit(1)).otherwise(F.lit(0)),
    )


def stopword_hits_sql(tokens_expr: str, words: list[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return (
        f"list_sum(list_transform({tokens_expr}, "
        f"t -> CASE WHEN t IN ({lst}) THEN 1 ELSE 0 END))::BIGINT"
    )


def alpha_chars(text: Column) -> Column:
    return F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))


def alpha_chars_sql(expr: str) -> str:
    return f"length(regexp_replace({expr}, '[^A-Za-z]', '', 'g'))"


# ---------------------------------------------------------------------------
# language identification (stopword-profile voting)
# ---------------------------------------------------------------------------
def lang_scores(tokens: Column) -> dict[str, Column]:
    return {lang: stopword_hits(tokens, STOPWORDS[lang]) for lang in LANGS}


def language_id(tokens: Column) -> Column:
    """Predicted language: argmax stopword hits, ties → first in sorted
    lang order; zero hits everywhere → 'und'."""
    scores = lang_scores(tokens)
    pred = F.lit("und")
    # Build the CASE chain in reverse so earlier langs win ties.
    for lang in reversed(LANGS):
        cond = (scores[lang] > 0)
        for other in LANGS:
            if other != lang:
                cond = cond & (scores[lang] >= scores[other])
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return pred


def language_id_sql(tokens_expr: str) -> str:
    score = {lang: stopword_hits_sql(tokens_expr, STOPWORDS[lang]) for lang in LANGS}
    branches = []
    for lang in LANGS:
        conds = [f"{score[lang]} > 0"] + [
            f"{score[lang]} >= {score[o]}" for o in LANGS if o != lang
        ]
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "(CASE " + " ".join(branches) + " ELSE 'und' END)"


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------
def quality_score(text: Column) -> Column:
    """Fixed-weight composite in [0, ~1]: rewards density of real words."""
    toks = ws_tokens(text)
    n_chars = F.length(text).cast("double")
    n_toks = F.size(toks).cast("double")
    all_stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    tok_per_char = F.least(n_toks / n_chars * F.lit(6.0), F.lit(1.0))
    uniq = F.size(F.array_distinct(toks)) / n_toks
    stop = F.least(stopword_hits(toks, all_stop) / n_toks * F.lit(4.0), F.lit(1.0))
    alpha = alpha_chars(text) / n_chars
    raw = (
        F.lit(QW_TOK) * tok_per_char
        + F.lit(QW_UNIQ) * uniq
        + F.lit(QW_STOP) * stop
        + F.lit(QW_ALPHA) * alpha
    )
    # floor(x*1e6 + 0.5)/1e6, NOT round(x, 6): Spark rounds through a
    # decimal string (BigDecimal HALF_UP) while DuckDB scales and rounds
    # in binary — at tie-adjacent doubles they disagree by one last digit
    # (caught at sf0.1: 0.599062 vs 0.599063 on one doc). The scaled-floor
    # form is the same double ops on both engines, so identical raw values
    # give identical output (same discipline as the quantize/phash codes).
    # Empty text scores NULL on both engines (edge-fixture r8: the
    # n/n_chars terms are 0-denominator divisions — an ANSI
    # DIVIDE_BY_ZERO crash here, NULL in DuckDB; the CASE guard prevents
    # branch evaluation so both engines agree on NULL).
    return F.when(
        n_chars > 0, F.floor(raw * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    )


def quality_score_sql(expr: str) -> str:
    toks = ws_tokens_sql(expr)
    all_stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    n_chars = f"length({expr})::DOUBLE"
    n_toks = f"len({toks})::DOUBLE"
    tok_per_char = f"least({n_toks} / {n_chars} * 6.0, 1.0)"
    uniq = f"(len(list_distinct({toks}))::DOUBLE / {n_toks})"
    stop = f"least({stopword_hits_sql(toks, all_stop)}::DOUBLE / {n_toks} * 4.0, 1.0)"
    alpha = f"({alpha_chars_sql(expr)}::DOUBLE / {n_chars})"
    return (
        f"(CASE WHEN {n_chars} > 0 THEN "
        f"floor(({QW_TOK} * {tok_per_char} + {QW_UNIQ} * {uniq} "
        f"+ {QW_STOP} * {stop} + {QW_ALPHA} * {alpha}) * 1000000.0 + 0.5) / 1000000.0 "
        f"END)"
    )


# ---------------------------------------------------------------------------
# hashed TF-IDF vectorization (HashingTF + IDF analog)
# ---------------------------------------------------------------------------
#: hashing-trick dimensionality for TF vectors.
TF_BUCKETS = 64


def tf_buckets(tokens: Column) -> Column:
    """Map each token to its hash bucket (token_hash mod TF_BUCKETS) —
    the hashing trick: fixed dimensionality, no vocabulary state."""
    return F.transform(tokens, lambda t: H.token_hash(t) % TF_BUCKETS)


def tf_buckets_sql(tokens_expr: str) -> str:
    return f"list_transform({tokens_expr}, t -> {H.token_hash_sql('t')} % {TF_BUCKETS})"


# ---------------------------------------------------------------------------
# document fingerprinting (mod-p winnowing over hashed word n-grams)
# ---------------------------------------------------------------------------
def winnow_fingerprints(text: Column) -> Column:
    """Distinct selected fingerprints: hash each word WINNOW_N-gram, keep
    h % WINNOW_W == 0. Position-independent content fingerprint set."""
    grams = H.word_shingles(text, WINNOW_N)
    hashes = F.transform(grams, H.token_hash)
    return F.array_distinct(F.filter(hashes, lambda h: h % WINNOW_W == 0))


def winnow_fingerprints_sql(expr: str) -> str:
    grams = H.word_shingles_sql(expr, WINNOW_N)
    return (
        f"list_distinct(list_filter(list_transform({grams}, "
        f"s -> {H.token_hash_sql('s')}), h -> h % {WINNOW_W} = 0))"
    )


# ---------------------------------------------------------------------------
# repetition / diversity filters (the Gopher- and C4-style quality gates)
# ---------------------------------------------------------------------------
#: Keep thresholds: a document passes the repetition gate iff its distinct
#: token ratio is at least REP_MIN_DISTINCT, its most frequent token claims
#: at most REP_MAX_TOPFRAC of all tokens, and no more than REP_MAX_DUP2 of
#: its word bigrams are repeats. Constants shared with the SQL twin.
REP_MIN_DISTINCT = 0.35
REP_MAX_TOPFRAC = 0.12
REP_MAX_DUP2 = 0.05


def top_token_count(tokens: Column) -> Column:
    """Count of the most frequent token — O(n log n) per row: sort, then a
    single fold tracking the current and best run length. (The naive
    per-distinct-token recount is O(n²) per row — at 100 TB that is the
    difference between a scan and a stall on long documents.)"""
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def merge(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(F.sort_array(tokens), init, merge, lambda acc: acc["best"])


def top_token_count_sql(tokens_expr: str) -> str:
    """DuckDB twin (semantic form): max per-token count via a correlated
    unnest + group-by scalar subquery."""
    return (
        f"(SELECT max(c) FROM (SELECT count(*) AS c FROM unnest({tokens_expr}) "
        "AS u(tok) GROUP BY tok))"
    )


def ngrams(tokens: Column, n: int) -> Column:
    """Word n-grams (n ∈ {2, 3}) as space-joined strings, via slice+zip —
    a narrow per-row expression, no explode/shuffle."""
    m = F.size(tokens)
    if n == 2:
        ln = F.greatest(m - 1, F.lit(0))
        return F.zip_with(
            F.slice(tokens, F.lit(1), ln),
            F.slice(tokens, F.lit(2), ln),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    if n == 3:
        ln = F.greatest(m - 2, F.lit(0))
        ab = F.zip_with(
            F.slice(tokens, F.lit(1), ln),
            F.slice(tokens, F.lit(2), ln),
            lambda a, b: F.concat_ws(" ", a, b),
        )
        return F.zip_with(
            ab, F.slice(tokens, F.lit(3), ln), lambda x, c: F.concat_ws(" ", x, c)
        )
    raise ValueError("ngrams supports n in {2, 3}")


def ngrams_sql(tokens_expr: str, n: int) -> str:
    # DuckDB's negative slice bounds wrap (t[1:-1] on a 1-token list returns
    # the whole list), so guard short documents explicitly to mirror the
    # Spark side's greatest(m - (n-1), 0) slice length.
    t = tokens_expr
    if n == 2:
        body = (
            f"list_transform(list_zip(({t})[1:len({t})-1], ({t})[2:len({t})]), "
            "p -> p[1] || ' ' || p[2])"
        )
        return f"CASE WHEN len({t}) >= 2 THEN {body} ELSE []::VARCHAR[] END"
    if n == 3:
        body = (
            f"list_transform(list_zip(({t})[1:len({t})-2], ({t})[2:len({t})-1], ({t})[3:len({t})]), "
            "p -> p[1] || ' ' || p[2] || ' ' || p[3])"
        )
        return f"CASE WHEN len({t}) >= 3 THEN {body} ELSE []::VARCHAR[] END"
    raise ValueError("ngrams_sql supports n in {2, 3}")


def dup_ngram_frac(tokens: Column, n: int) -> Column:
    """Fraction of word n-grams that are duplicates of an earlier one
    (0.0 when the document is too short to have any n-grams)."""
    g = ngrams(tokens, n)
    total = F.size(g)
    return F.when(
        total > 0,
        F.lit(1.0) - F.size(F.array_distinct(g)).cast("double") / total.cast("double"),
    ).otherwise(F.lit(0.0))


def dup_ngram_frac_sql(tokens_expr: str, n: int) -> str:
    g = ngrams_sql(tokens_expr, n)
    return (
        f"CASE WHEN len({g}) > 0 "
        f"THEN 1.0 - len(list_distinct({g}))::DOUBLE / len({g}) "
        "ELSE 0.0 END"
    )


def distinct_permille(text: Column) -> Column:
    """Exact integer per-mille distinct-token ratio — the engine-stable
    quality score of the r9 curation queries (repetitive docs score low).
    Whitespace tokens, so the empty string counts as 1 token of "" on
    both engines (string_split parity)."""
    toks = ws_tokens(text)
    a = (1000 * F.size(F.array_distinct(toks))).cast("long")
    b = F.size(toks).cast("long")
    # integer floor division without a Column `div` operator: strip the
    # remainder first, so the double division is of an exact multiple
    # (exact for quotients < 2^53 — same trick as sampling._exact_div)
    return ((a - a % b) / b).cast("long")


def distinct_permille_sql(expr: str) -> str:
    """DuckDB twin of :func:`distinct_permille`."""
    return (
        f"(1000 * len(list_distinct(string_split({expr}, ' ')))"
        f" // len(string_split({expr}, ' ')))::BIGINT"
    )
