"""Distributed BPE tokenizer training (byte-pair encoding merge learning).

Upgrades the single merge-step pair count (``bpe_top_pairs``, round 3) to
the real TRAINING LOOP: per iteration, count adjacent symbol pairs over
the word-frequency table, adopt the most frequent pair as a merge rule,
and apply it to every word with BPE's greedy left-to-right semantics —
the algorithm of Sennrich et al.'s subword-NMT trainer.

Scale design: the work splits into a data-sized reduction and a bounded
combine. Spark runs the one corpus-sized pass, the word count, and keeps
the top ``max_words`` words. The driver collects that vocabulary and runs
the merge loop over it in plain Python: every iteration's input is the
capped vocabulary by construction, independent of corpus size, so a
100 TB corpus still pays one word count and the driver holds at most
``max_words`` words (the ``pref_bradley_terry`` pattern).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lithops_dataframe_spark.operators.util import values_frame


def word_frequency_table(
    docs: DataFrame, text_col: str = "text", *, max_words: int = 2000
) -> DataFrame:
    """(word, cnt): lowercase alphanumeric tokens, top ``max_words`` by
    count (ties broken by word asc — keeps the cap deterministic)."""
    words = docs.select(
        F.explode(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")).alias("word")
    ).filter(F.length("word") > 0)
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.orderBy(F.col("cnt").desc(), F.col("word").asc()).limit(max_words)


def _merge(syms: list[str], s1: str, s2: str) -> list[str]:
    """Replace non-overlapping (s1, s2) matches left to right."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == s1 and syms[i + 1] == s2:
            out.append(s1 + s2)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    *,
    n_merges: int = 6,
    max_words: int = 2000,
    return_tokens: bool = False,
):
    """Learn ``n_merges`` BPE merge rules; returns one row per rule:
    (step, left_sym, right_sym, merged, pair_count).

    ``return_tokens=True`` additionally returns the post-merge token
    table ``(wid, cnt, pos, sym)`` with 1-based ``pos`` — the ENCODED
    vocabulary. Encoding a corpus with a trained BPE is this table joined
    back to the corpus's word occurrences: the merge loop runs once over
    the bounded vocabulary, never over the corpus."""
    spark = docs.sparkSession
    vocab = [
        (r["word"], r["cnt"])
        for r in word_frequency_table(docs, text_col, max_words=max_words).collect()
    ]
    words = {w: list(w) for w, _ in vocab}

    merges: list[tuple] = []
    for step in range(n_merges):
        pairs: Counter = Counter()
        for w, cnt in vocab:
            syms = words[w]
            for pair in zip(syms, syms[1:]):
                pairs[pair] += cnt
        if not pairs:
            break
        # symbols are [a-z0-9]+, so Python's str order is Spark's binary
        # order: ties break by left then right symbol ascending
        (s1, s2), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, s1, s2, s1 + s2, c))
        for w, _ in vocab:
            words[w] = _merge(words[w], s1, s2)

    merges_df = values_frame(
        spark, merges, "step int, left_sym string, right_sym string, merged string, pair_count bigint"
    )
    if not return_tokens:
        return merges_df
    # one literal row per word (not per token): the VALUES text and its
    # parse stay vocabulary-sized; symbols never contain a space
    rows = [(w, cnt, " ".join(words[w])) for w, cnt in vocab]
    tok = values_frame(spark, rows, "wid string, cnt bigint, syms string").select(
        "wid", "cnt", F.posexplode(F.split("syms", " ")).alias("pos0", "sym")
    )
    return merges_df, tok.select("wid", "cnt", (F.col("pos0") + 1).alias("pos"), "sym")
