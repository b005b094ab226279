"""Deduplication operators for large-scale text pipelines (SURVEY §2.11).

Five dedup families, all Spark-first and shuffle-conscious:

- **exact**: ``dropDuplicates`` (hash aggregate on the dedup key — at scale,
  dedup on a fingerprint column, never on the raw text payload).
- **MinHash + LSH**: shingle → k-component minhash signature → banded LSH
  bucketing → equi-join on band key → exact-Jaccard verification of the
  candidates. The band join replaces the quadratic all-pairs comparison
  with hash-partitioned buckets; verification touches only candidates.
- **SimHash**: 60-bit fingerprints, LSH on 15-bit blocks (any pair within
  Hamming distance d must agree on ≥1 of d+1 blocks), XOR+popcount verify.
- **exact n-gram Jaccard / containment**: the full inverted-index join
  (explode shingles → join on shingle → count per pair) as the reference,
  and AllPairs prefix filtering as the scale path.
- **embedding cosine near-dup** lives in
  :mod:`lithops_dataframe_spark.operators.similarity`.

The set-similarity pair miners (MinHash pairs, incremental MinHash dedup —
batch and streaming — prefix-filtered Jaccard and containment) share ONE
candidate → verify core:

- candidates: :func:`band_postings` (LSH band postings) or
  :func:`_prefix_postings` (AllPairs prefixes) over the persisted
  :func:`_shingled` / minhash base;
- candidate dedup: :func:`_dedup_pinned`, their single candidate-dedup
  policy;
- verification: :func:`_with_common` rejoins the shingle sets and adds
  their overlap; :func:`_jaccard` is the one Jaccard expression;
- incremental decisions: :func:`incremental_decisions`, called by
  :func:`minhash_incremental_dedup` and by the streaming per-epoch step
  (:mod:`lithops_dataframe_spark.streaming.dedup`).

All hashing comes from :mod:`lithops_dataframe_spark.functions.hashing`, so
every operator here has a bit-identical DuckDB oracle (see plans/dedup_q.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lithops_dataframe_spark import cache

from lithops_dataframe_spark.functions import hashing as H
from lithops_dataframe_spark.operators.util import ensure_parallelism


def exact_dedup(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """Exact deduplication — ``dropDuplicates`` (hash groupBy under the hood).

    Non-deterministic in *which* duplicate survives (Spark keeps an
    arbitrary row per key); use :func:`exact_dedup_keep_min` when the output
    must be stable (e.g. for differential testing).
    """
    return df.dropDuplicates(list(subset) if subset else None)


def exact_dedup_keep_min(df: DataFrame, key: Sequence[str], order_col: str) -> DataFrame:
    """Deterministic exact dedup: keep the row with min(order_col) per key.

    One shuffle on the key (window + filter); ties on order_col must not
    exist (use a unique id).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key).orderBy(F.col(order_col).asc())
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def with_minhash(
    df: DataFrame,
    text_col: str,
    *,
    shingle_n: int = 2,
) -> DataFrame:
    """Attach ``__shingles`` (distinct word n-grams) and ``__sig`` (minhash
    signature array, k=16) columns. Narrow map, no shuffle.

    The md5 token hash is materialized once per shingle in its own
    projection; the 16 signature components are integer affine mixes of
    that array (16× fewer md5 evaluations than the naive form)."""
    sh = H.word_shingles(F.col(text_col), shingle_n)
    return (
        df.withColumn("__shingles", sh)
        .withColumn("__hashes", F.transform(F.col("__shingles"), H.token_hash))
        .withColumn("__sig", H.minhash_signature_from_hashes(F.col("__hashes")))
        .drop("__hashes")
    )


def band_postings(base: DataFrame, bands: int, *carry: str) -> DataFrame:
    """Slim LSH postings (id, *carry, band_idx, band_key): one row per band
    of ``base``'s ``__sig`` signature. Band joins shuffle only these
    columns, never the shingle arrays; shingles rejoin after candidate
    dedup (:func:`_with_common`), so payload movement is O(candidates),
    not O(docs × bands)."""
    return base.select(
        "id", *carry, F.explode(H.band_signatures(F.col("__sig"), bands)).alias("band")
    ).select("id", *carry, F.col("band.band_idx").alias("band_idx"), F.col("band.band_key").alias("band_key"))


def _shingled(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Persisted (id, sh) word n-gram shingle sets. The arrays feed the
    candidate generation and both sides of the verification rejoin, so
    they are computed once."""
    return cache.persist_tracked(
        ensure_parallelism(df.select(id_col, text_col)).select(
            F.col(id_col).alias("id"), H.word_shingles(F.col(text_col), n).alias("sh")
        )
    )


def _prefix_postings(base: DataFrame, num: int, den: int) -> tuple[DataFrame, DataFrame]:
    """AllPairs prefix construction over (id, sh) for threshold num/den.

    Returns (postings, prefix), both (id, n, s): every shingle of every
    document, and each document's prefix — its first ``n − ⌈t·n⌉ + 1``
    shingles in the global (document-frequency ASC, shingle) order, rarest
    first. Two sets with overlap ≥ ⌈t·n⌉ share a token inside the prefix,
    so a join on prefix tokens loses no true pair. Integer-exact:
    ⌈num·n/den⌉ = (num·n + den − 1) div den."""
    from pyspark.sql.window import Window

    postings = base.select("id", F.size("sh").cast("long").alias("n"), F.explode("sh").alias("s"))
    dfreq = postings.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ceil_tn = (F.lit(num) * F.col("n") + F.lit(den - 1)) / F.lit(den)
    prefix_len = F.col("n") - F.floor(ceil_tn) + F.lit(1)
    w = Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("s").asc())
    prefix = (
        postings.join(dfreq, "s")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= prefix_len)
        .select("id", "n", "s")
    )
    return postings, prefix


def _with_common(cand: DataFrame, shingles: DataFrame, a: str, b: str) -> DataFrame:
    """Verification input: rejoin the (id, sh) shingle sets onto candidate
    pairs keyed by columns ``a`` and ``b`` as ``sh_a``/``sh_b`` and add
    their overlap ``common`` (JVM-side ``array_intersect``, candidates
    only)."""
    return (
        cand.join(shingles.select(F.col("id").alias(a), F.col("sh").alias("sh_a")), a)
        .join(shingles.select(F.col("id").alias(b), F.col("sh").alias("sh_b")), b)
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
    )


def _jaccard():
    """``common / (|a| + |b| − common)`` over :func:`_with_common` columns:
    the exact Jaccard of two distinct-element sets (``word_shingles`` is
    ``array_distinct``), the same double as |a ∩ b| / |a ∪ b|."""
    return F.col("common") / (F.size("sh_a") + F.size("sh_b") - F.col("common"))


def _dedup_pinned(df: DataFrame, spark_session, *keys: str) -> DataFrame:
    """The candidate-dedup policy of every set-similarity pair miner, the
    streaming incremental step included: distinct candidate pairs pinned at
    full parallelism with ONE exchange. Verification is CPU-bound
    (``array_intersect`` over full shingle arrays) on a byte-small
    candidate set, so AQE would coalesce it onto a handful of tasks; the
    explicit ``repartition(N, keys)`` pins it (measured at sf0.1 on the
    prefix join: 4.5 s → 3.0 s). The repartition runs FIRST: its hash
    partitioning already satisfies dropDuplicates' clustering
    requirement, so dedup runs in place (r13, guide §2.4); the r12 order
    (dedup exchange, then repartition on the same keys) paid a second
    exchange. Interleaved A/B at sf0.1: pre-dedup repartition median
    0.489 s vs the r12 order 0.508 s on minhash pairs
    (plans/r13/ab_records.jsonl)."""
    n = spark_session.sparkContext.defaultParallelism
    return df.repartition(n, *keys).dropDuplicates(list(keys))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_n: int = 2,
    bands: int = 4,
    threshold: float = 0.6,
) -> DataFrame:
    """Near-duplicate pairs by MinHash-LSH with exact-Jaccard verification.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ threshold.

    Plan shape (scales to 100 TB):
      1. narrow map: shingles + signature + band keys per doc;
      2. explode to (band_idx, band_key, id) postings;
      3. self equi-join on (band_idx, band_key) — hash shuffle on band key,
         which is uniform by construction (md5), so no skew;
      4. distinct candidate pairs (a < b);
      5. exact Jaccard on the candidates only; filter by threshold.

    With k=16, bands=4 (r=4), P(candidate | j) = 1-(1-j^4)^4: ≈1.0 at
    j≥0.9, ≈0.22 at j=0.5, ≈0.03 at j=0.3 — tuned for the high-similarity
    dedup regime; raise `bands` for lower thresholds.
    """
    # persisted: base feeds three lineages (both join sides +
    # verification), so shingles + signatures are computed once
    base = cache.persist_tracked(
        with_minhash(
            ensure_parallelism(df.select(id_col, text_col)), text_col, shingle_n=shingle_n
        ).select(F.col(id_col).alias("id"), "__shingles", "__sig")
    )
    return minhash_pairs_from_base(base, bands=bands, threshold=threshold)


def minhash_pairs_from_base(
    base: DataFrame,
    *,
    bands: int = 4,
    threshold: float = 0.6,
) -> DataFrame:
    """LSH band join + exact-Jaccard verify over a prepared ``base`` frame
    with columns (id, __shingles, __sig). The caller owns persistence of
    ``base`` (it feeds both join sides and the verification); composers
    like the corpus-cleaning pipeline reuse one persisted frame that also
    carries their own downstream columns, so the corpus is scanned and
    shingled exactly once per run."""
    posted = band_postings(base, bands)
    a, b = posted.alias("a"), posted.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .transform(_dedup_pinned, base.sparkSession, "id_a", "id_b")
    )
    shingles = base.select("id", F.col("__shingles").alias("sh"))
    return (
        _with_common(cand, shingles, "id_a", "id_b")
        .withColumn("jaccard", _jaccard())
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def incremental_decisions(
    new: DataFrame,
    others: DataFrame,
    shingles: DataFrame,
    *,
    bands: int,
    threshold: float,
) -> DataFrame:
    """Probe → verify → decide for a batch of arriving documents.

    ``new`` holds the arriving docs (id, __sig); ``others`` is the
    postings frame (id, band_idx, band_key, require_lt) of every doc that
    can drop one of them — ``require_lt`` marks batch-mates, which count
    only when their id is smaller (deterministic first-wins inside the
    batch); ``shingles`` is (id, sh) for the union of both. Returns one
    row per arriving doc: (id, n, keep), n = verified near-dup matches
    (Jaccard ≥ threshold), keep = 1 iff n = 0.

    Candidate work is new-postings × others on (band_idx, band_key) —
    O(batch) probe work against the index, never existing × existing.
    Both :func:`minhash_incremental_dedup` and the streaming per-epoch
    step are this function; only their input wiring and output column
    names differ."""
    a, b = band_postings(new, bands).alias("a"), others.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") != F.col("b.id"))
            & (~F.col("b.require_lt") | (F.col("b.id") < F.col("a.id"))),
        )
        .select(F.col("a.id").alias("new_id"), F.col("b.id").alias("other_id"))
        .transform(_dedup_pinned, new.sparkSession, "new_id", "other_id")
    )
    n_dup = (
        _with_common(cand, shingles, "new_id", "other_id")
        .filter(_jaccard() >= threshold)
        .groupBy("new_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        new.select("id")
        .join(n_dup, F.col("id") == F.col("new_id"), "left")
        .select(
            "id",
            F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"),
            F.col("new_id").isNull().cast("int").alias("keep"),
        )
    )


def minhash_incremental_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    new_col: str,
    *,
    shingle_n: int = 2,
    bands: int = 4,
    threshold: float = 0.6,
) -> DataFrame:
    """Incremental batch dedup — the PRODUCTION shape of MinHash dedup:
    an ARRIVING batch (``new_col`` true) is checked against the already-
    ingested corpus without re-pairing the corpus with itself. Returns
    one row per arriving doc: (id, n_dup_matches, keep) where keep=1 iff
    the doc near-dups no existing doc and no smaller-id arriving doc
    (first-wins inside the batch — a deterministic tie-break).

    Plan shape at 100 TB: postings for the full corpus are the standing
    LSH index (in production they persist between batches; here they are
    computed in the same job); the candidate join is new-postings ×
    all-postings on (band_idx, band_key) — see
    :func:`incremental_decisions`, shared with the streaming step.
    """
    base = cache.persist_tracked(
        with_minhash(
            ensure_parallelism(df.select(id_col, text_col, new_col)),
            text_col,
            shingle_n=shingle_n,
        ).select(
            F.col(id_col).alias("id"),
            F.col(new_col).cast("boolean").alias("require_lt"),
            "__shingles",
            "__sig",
        )
    )
    return incremental_decisions(
        base.filter(F.col("require_lt")),
        band_postings(base, bands, "require_lt"),
        base.select("id", F.col("__shingles").alias("sh")),
        bands=bands,
        threshold=threshold,
    ).withColumnRenamed("n", "n_dup_matches")


def levenshtein_blocked_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    prefix_len: int = 16,
    max_dist: int = 40,
    max_block_size: int | None = None,
) -> DataFrame:
    """Fuzzy (edit-distance) near-dup pairs with prefix blocking.

    Returns (id_a, id_b, dist) with id_a < id_b and Levenshtein distance
    ≤ ``max_dist``, comparing only documents that share their first
    ``prefix_len`` characters.

    Plan shape (scales to 100 TB):
      1. narrow map: block key = ``substring(text, 1, prefix_len)``;
      2. self equi-join on the block key — hash shuffle, never all-pairs;
      3. THRESHOLD-BOUNDED ``levenshtein(a, b, max_dist)`` — Spark's 3-arg
         form runs the banded O(max_dist·n) DP and returns -1 beyond the
         bound, vs O(n²) cells for the unbounded distance.

    Work is Σ block-size² over blocks; ``max_block_size`` drops boilerplate
    hot blocks (every doc starting with the same header) exactly like an
    inverted-index stop list — essential at corpus scale, optional here.
    Prefix blocking is exact only for edits past the prefix; pair it with
    the hash families (minhash/simhash) for head edits — this operator is
    the cheap high-precision member of the dedup ensemble.

    Reference parity: extends the reference's dedup surface (its live API
    is pandas ``drop_duplicates`` passthrough; ``/root/reference/dataframe/
    core.py``) with the edit-distance family a text pipeline needs.
    """
    base = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("txt"),
        F.substring(F.col(text_col), 1, prefix_len).alias("blk"),
    )
    if max_block_size is not None:
        # Stop-block cap: count per block key, keep blocks ≤ cap. The
        # counts frame is corpus-sized in the worst case, so no broadcast
        # hint — AQE sizes the join.
        sizes = base.groupBy("blk").agg(F.count(F.lit(1)).alias("__bn"))
        base = (
            base.join(sizes.filter(F.col("__bn") <= max_block_size), "blk", "inner")
            .select("id", "txt", "blk")
        )

    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")),
    )
    dist = F.levenshtein(F.col("a.txt"), F.col("b.txt"), max_dist)
    return (
        pairs.withColumn("dist", dist)
        .filter(F.col("dist") >= 0)  # 3-arg levenshtein → -1 beyond bound
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


def connected_components(
    pairs: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Cluster the near-dup pair graph: (id, cluster_id) where cluster_id
    is the minimum id reachable in the undirected pair graph.

    Min-label propagation: every node starts labeled with itself; each
    round, a node takes the min of its own and its neighbors' labels;
    fixpoint after diameter rounds (checked via a changed-count, driver
    loop — the canonical iterative-algorithm shape Spark handles with a
    loop of joins, one shuffle per round). Near-dup components are tiny
    and shallow in practice, so rounds ≈ 2-4; at web scale swap in the
    large-star/small-star variant, same per-round plan.
    """
    # Materialize the pair frame ONCE before symmetrizing: the union
    # references it twice, and pair mining (LSH banding + verify) is the
    # expensive lineage — without this the two branches recompute it
    # (they project different columns, so no exchange reuse applies).
    pairs = pairs.select(src_col, dst_col).localCheckpoint(eager=True)
    edges = (
        pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .unionByName(pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
        .distinct()
        # pre-partition on the loop's join key: distinct leaves the frame
        # hash-partitioned on (src, dst), so every propagation round's
        # edges⋈labels join on dst re-shuffled the cached edges (r12,
        # guide §2.4); one extra narrow shuffle at build makes all
        # max_iterations round joins exchange-free on the edge side
        .repartition("dst")
        .persist()
    )
    # Fused first round: starting from identity labels, round 1 would
    # compute min(self, min(neighbors)) — that is a plain groupBy over
    # the symmetric edge list, no label join and no changed-count job
    # needed (it can never un-converge anything). One full round + one
    # action cheaper; every subsequent round is unchanged.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("__nbmin"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("__nbmin")).alias("cluster"),
        )
        .persist()
    )
    prev = labels  # the storage-backed frame of the previous round
    for i in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster").alias("nb_min"))
        )
        # carry the OLD label through the propagation join so the
        # fixpoint check is a filter over THIS round's persisted frame —
        # not a second (new ⋈ old) join+shuffle per round (r6: halves
        # the per-round action count; emb_semantic_dedup_keep 4.5→2.9 s)
        stepped = labels.join(
            neighbor_min, labels.id == neighbor_min.src, "left"
        ).select(
            "id",
            F.col("cluster").alias("__old"),
            F.least(
                F.col("cluster"), F.coalesce(F.col("nb_min"), F.col("cluster"))
            ).alias("cluster"),
        )
        if (i + 1) % 3 == 0:
            # Truncate lineage every few rounds: without this the plan
            # (and task closure) grows linearly with iterations — fine for
            # shallow dup graphs, a scheduler bomb for deep ones.
            # localCheckpoint materializes to executor-local blocks (no
            # HDFS round trip) and also serves as this round's persist.
            stepped = stepped.localCheckpoint(eager=True)
        else:
            stepped = stepped.persist()
        changed = stepped.filter(F.col("cluster") != F.col("__old")).count()
        # unpersist the PREVIOUS round's storage-backed frame (labels is a
        # select() view after round 1 — unpersisting the view is a no-op)
        prev.unpersist()
        prev = stepped
        labels = stepped.select("id", "cluster")
        if changed == 0:
            break
    edges.unpersist()
    cache.track(prev)  # final persisted frame backs the returned plan
    return labels.select("id", "cluster")


def with_simhash(df: DataFrame, text_col: str, *, shingle_n: int = 2) -> DataFrame:
    """Attach a 60-bit ``__simhash`` fingerprint over word n-gram shingles.

    Shingles (not unigrams) keep word order in the fingerprint — on corpora
    with a small shared vocabulary, unigram-set simhash collapses most
    documents to near-identical fingerprints. Token hashes are materialized
    once (own projection), the 60-bit vote array is folded in ONE pass over
    them (own projection), then packed — see hashing.simhash_votes.
    """
    return (
        df.withColumn("__tokhashes", F.transform(H.word_shingles(F.col(text_col), shingle_n), H.token_hash60))
        .withColumn("__votes", H.simhash_votes(F.col("__tokhashes")))
        .withColumn("__simhash", H.simhash_pack(F.col("__votes")))
        .drop("__tokhashes", "__votes")
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash within a Hamming radius.

    LSH on the 4 disjoint 15-bit blocks of the 60-bit fingerprint: any pair
    with Hamming distance ≤ 3 agrees exactly on ≥ 1 block (pigeonhole), so
    the 4-way block join has perfect recall for d ≤ 3; XOR+popcount verifies.
    """
    # persisted: the 60-bit fingerprint (60 per-bit votes over the token
    # hashes) feeds both sides of the block self-join — compute it once.
    base = cache.persist_tracked(
        with_simhash(ensure_parallelism(df.select(id_col, text_col)), text_col).select(
            F.col(id_col).alias("id"), F.col("__simhash").alias("sh")
        )
    )
    blocks = base.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("blk"), (F.shiftright("sh", 15 * j) % 32768).alias("key"))
                    for j in range(4)
                ]
            )
        ).alias("b"),
    ).select("id", "sh", F.col("b.blk").alias("blk"), F.col("b.key").alias("key"))

    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", hamming).filter(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_n: int = 2,
    threshold: float = 0.3,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join via the full inverted index.

    explode(shingles) → self-join on shingle → count common shingles per
    pair → jaccard = common / (|A| + |B| - common). Work is Σ df(s)² over
    shingle document-frequencies, not |docs|²; the prefix-filtered
    :func:`jaccard_prefix_filter_pairs` computes the same pairs from the
    rare-shingle slice only, and this operator is its reference.
    """
    # persisted: shingle arrays feed four lineages (both join sides of the
    # postings self-join + both size joins)
    base = _shingled(df, text_col, id_col, shingle_n)
    sizes = base.select("id", F.size("sh").alias("n_sh"))
    postings = base.select("id", F.explode("sh").alias("shingle"))

    pa, pb = postings.alias("pa"), postings.alias("pb")
    common = (
        pa.join(pb, (F.col("pa.shingle") == F.col("pb.shingle")) & (F.col("pa.id") < F.col("pb.id")))
        .groupBy(F.col("pa.id").alias("id_a"), F.col("pb.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def jaccard_prefix_filter_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.4,
) -> DataFrame:
    """EXACT Jaccard similarity join via PREFIX FILTERING (AllPairs /
    PPJoin candidate generation — Bayardo et al. WWW'07, Xiao et al.
    WWW'08; same public algorithm family the reference's dedup CLI
    exposes as its set-similarity mode).

    Same output contract as :func:`ngram_jaccard_pairs` — every pair with
    Jaccard ≥ t, exactly — but the candidate join touches only each
    document's PREFIX postings instead of the full inverted index:

    1. order all shingles globally by (document-frequency ASC, shingle) —
       rarest first, fully deterministic;
    2. each document's prefix = its first ``|d| − ⌈t·|d|⌉ + 1`` shingles
       in that order. Theorem: two sets with overlap ≥ ⌈t·|d|⌉ must share
       a token inside both prefixes, so joining prefix postings loses no
       true pair;
    3. length filter inside the join: J ≥ t ⇒ t·|a| ≤ |b| ≤ |a|/t —
       enforced as exact integer cross-multiplication (no float ceil);
    4. verify candidates with ``array_intersect`` on the full shingle
       arrays (JVM-side, candidates only).

    At scale this is the difference between Σ df² over ALL postings and
    Σ df_prefix² over the ~(1−t) rarest slice — prefix tokens are by
    construction the LOW-df tail, so the quadratic term collapses (the
    stop-shingle problem disappears without needing a lossy df cap).
    The threshold is taken as an exact fraction (e.g. 0.4 = 2/5) so every
    pruning comparison is integer arithmetic — ANSI-safe, engine-agnostic;
    only the final verified jaccard is a (both-engines-identical) double.
    """
    from fractions import Fraction

    frac = Fraction(str(threshold))
    num, den = frac.numerator, frac.denominator

    base = _shingled(df, text_col, id_col, shingle_n)
    _, prefix = _prefix_postings(base, num, den)
    # persisted: the prefix postings feed BOTH sides of the candidate
    # self-join; without it the postings⋈dfreq join + rank window execute
    # twice (the static plan carried two full copies of the subtree —
    # r12, guide §5 reuse rule). Re-adjudicated r13 (VERDICT r12 item 2):
    # interleaved A/B persist median 3.16 s vs recompute 3.26 s at sf0.1
    # (plans/r13/ab_records.jsonl) — persist stays.
    prefix = cache.persist_tracked(prefix)

    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    cand = (
        pa.join(
            pb,
            (F.col("pa.s") == F.col("pb.s"))
            & (F.col("pa.id") < F.col("pb.id"))
            # length filter, cross-multiplied: den·|b| ≥ num·|a| ∧ den·|a| ≥ num·|b|
            & (F.lit(den) * F.col("pb.n") >= F.lit(num) * F.col("pa.n"))
            & (F.lit(den) * F.col("pa.n") >= F.lit(num) * F.col("pb.n")),
        )
        .select(F.col("pa.id").alias("id_a"), F.col("pb.id").alias("id_b"))
        .transform(_dedup_pinned, df.sparkSession, "id_a", "id_b")
    )
    return (
        _with_common(cand, base, "id_a", "id_b")
        .withColumn("jaccard", _jaccard())
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """EXACT asymmetric-containment similarity join: every ordered pair
    (small, big) with ``C(small→big) = |small ∩ big| / |small| ≥ t`` —
    the doc-in-doc duplication class (quoted articles, boilerplate
    wrappers, excerpt pages) that symmetric Jaccard structurally misses:
    a 50-shingle doc fully contained in a 5000-shingle doc has J ≈ 0.01
    but C = 1.0.

    Candidate generation adapts AllPairs prefix filtering (Bayardo et
    al. WWW'07) to the asymmetric bound: overlap ≥ ⌈t·|A|⌉ constrains
    only the SMALL side, so only A's prefix — its ``|A| − ⌈t·|A|⌉ + 1``
    globally-rarest shingles — is indexed, and it joins against the FULL
    posting list of the big side (no length upper bound exists for
    containment). Work is Σ_s df_prefix(s)·df(s): prefix tokens are the
    low-df tail by construction, so the product collapses the way the
    symmetric prefix join does. Verification is ``array_intersect`` on
    candidates only; the threshold is an exact fraction, so every
    pruning comparison is integer arithmetic (ANSI-safe), and the small
    side of each pair is fixed deterministically (n ASC, id ASC).
    """
    from fractions import Fraction

    frac = Fraction(str(threshold))
    num, den = frac.numerator, frac.denominator

    base = _shingled(df, text_col, id_col, shingle_n)
    postings, prefix = _prefix_postings(base, num, den)
    pa, pb = prefix.alias("pa"), postings.alias("pb")
    cand = (
        pa.join(
            pb,
            (F.col("pa.s") == F.col("pb.s"))
            & (
                (F.col("pa.n") < F.col("pb.n"))
                | ((F.col("pa.n") == F.col("pb.n")) & (F.col("pa.id") < F.col("pb.id")))
            ),
        )
        .select(F.col("pa.id").alias("id_small"), F.col("pb.id").alias("id_big"))
        .transform(_dedup_pinned, df.sparkSession, "id_small", "id_big")
    )
    return (
        _with_common(cand, base, "id_small", "id_big")
        .filter(F.lit(den) * F.col("common") >= F.lit(num) * F.size("sh_a").cast("long"))
        .select(
            "id_small",
            "id_big",
            "common",
            F.round(F.col("common") / F.size("sh_a"), 4).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# Exact duplicated-substring spans (suffix-array dedup, k-gram form)
# ---------------------------------------------------------------------------


def duplicate_span_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Per-document EXACT duplicated-substring coverage — the distributed
    form of suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): any word k-gram occurring
    ``min_count``+ times anywhere in the corpus marks its span duplicated;
    overlapping/adjacent spans merge into maximal regions per document.

    Reference parity: the reference's dedup family stops at whole-document
    and chunk granularity (cdc_chunks above); this adds the substring
    granularity the paper shows matters most for LM training corpora.

    Two-pass scale shape (a suffix array is a global sort — hostile at
    100 TB; k-gram hashing is embarrassingly parallel):

    1. **hash-only pass**: stream (id, pos, xxhash64(gram)) — no gram
       strings leave the scan projection — and hash-aggregate counts on the
       8-byte key (map-side partial combine, minimal shuffle bytes).
    2. **candidate pass**: re-derive grams, semi-join on the duplicated
       hashes (a tiny fraction), then re-verify candidates by the REAL
       gram string so an xxhash64 collision can never promote a unique
       gram — the output is exact, not approximate, while full strings
       only ever shuffle for already-suspected duplicates.

    Region merge is pure window algebra (running max-end island labeling),
    identical in the DuckDB oracle. Returns one row per document that has
    at least one duplicated region: (id, n_regions, dup_words,
    longest_region, total_words, dup_permille) — dup_permille is exact
    integer division, no float tolerance.
    """
    words = F.split(F.col(text_col), " ")
    toks = df.select(F.col(id_col).alias("id"), words.alias("w")).where(
        F.size("w") >= k
    )
    gram_arr = F.expr(
        f"transform(sequence(1, size(w) - {k - 1}), i -> concat_ws(' ', slice(w, i, {k})))"
    )
    grams = toks.select(
        "id", F.posexplode(gram_arr).alias("p0", "gram")
    ).select("id", (F.col("p0") + 1).alias("s"), "gram")

    # pass 1: duplicated hashes (8-byte shuffle keys, partial counts)
    dup_h = (
        grams.select(F.xxhash64("gram").alias("gh"))
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= min_count)
        .select("gh")
    )
    # pass 2: candidates, string-verified (collision-proof)
    cand = cache.persist_tracked(
        grams.withColumn("gh", F.xxhash64("gram")).join(dup_h, "gh").drop("gh")
    )
    dup_g = (
        cand.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= min_count)
        .select("gram")
    )
    spans = cand.join(dup_g, "gram").select(
        "id", "s", (F.col("s") + (k - 1)).alias("e")
    )

    from pyspark.sql import Window

    w_prev = (
        Window.partitionBy("id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = (
        spans.withColumn("prev_e", F.max("e").over(w_prev))
        .withColumn(
            "new_i",
            F.when(
                F.col("prev_e").isNull() | (F.col("s") > F.col("prev_e") + 1),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("isl", F.sum("new_i").over(w_run))
    )
    merged = islands.groupBy("id", "isl").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    perdoc = merged.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_regions"),
        F.sum(F.col("me") - F.col("ms") + 1).cast("long").alias("dup_words"),
        F.max(F.col("me") - F.col("ms") + 1).cast("long").alias("longest_region"),
    )
    totals = df.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("total_words"),
    )
    return (
        perdoc.join(totals, "id")
        .select(
            F.col("id").alias(id_col),
            "n_regions",
            "dup_words",
            "longest_region",
            "total_words",
            F.expr("(dup_words * 1000) div total_words").alias("dup_permille"),
        )
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (rolling-hash CDC) — sub-document dedup
# ---------------------------------------------------------------------------

_CDC_B = 31  # rolling-hash base
_CDC_W = 8  # window (chars)


def cdc_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    *,
    mask: int = 63,
) -> DataFrame:
    """Content-defined chunking via a fixed-window polynomial rolling hash
    (the Rabin-Karp/FastCDC family): a chunk boundary falls AFTER position
    ``p`` whenever the 16-bit Knuth mix of ``H(s[p-W+1..p])`` lands in the
    low ``1/(mask+1)`` slice, with ``H = Σ code(c_j)·B^(W-j)`` (the
    polynomial's own low bits mix poorly — 31² ≡ 1 mod 64 — and the 16-bit
    mix keeps every intermediate product inside BIGINT for both engines).
    Boundaries move WITH the content, so an insertion early in a document
    only reshuffles the chunks it touches; byte-offset chunking would
    shift every later chunk and defeat dedup. Returns
    (id, chunk_idx, chunk_len, chunk_md5) — one row per chunk.

    Runs as ``mapInPandas``: per Arrow batch the window hash for ALL
    positions of a document is 8 shifted elementwise multiply-adds on the
    numpy int64 code array (Σ code·B^j, max 126·Σ31^j ≈ 3.7e12, no
    overflow), boundaries come from one vectorized compare, chunks from
    Python slices. Per-byte work is the one place Catalyst expressions
    lose to vectorized Python: a higher-order-function path pays a lambda
    eval per probe ×8 probes per position.

    Text is sanitized to printable ASCII first so numpy's uint8 codes and
    DuckDB's ``ord()`` agree on every code point (and byte length == char
    length for the emitted chunks); NULL or empty text yields no rows.
    Avg chunk ≈ mask+1 chars. Sub-document dedup at 100 TB: chunk hashes
    (16 B) are the only shuffle payload, never the text.
    """
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    powers = np.array(
        [_CDC_B**j for j in range(_CDC_W - 1, -1, -1)], dtype=np.int64
    )
    threshold = 65536 // (mask + 1)
    non_ascii = re.compile(r"[^\x20-\x7e]")
    id_field = df.schema[id_col]
    out_schema = StructType(
        [
            StructField("id", id_field.dataType),
            StructField("chunk_idx", IntegerType()),
            StructField("chunk_len", IntegerType()),
            StructField("chunk_md5", StringType()),
        ]
    )

    def fn(batches):
        for pdf in batches:
            ids, idxs, lens, md5s = [], [], [], []
            for doc_id, text in zip(pdf["id"], pdf["s"]):
                if text is None:
                    continue
                s = non_ascii.sub("", text)
                n = len(s)
                if n == 0:
                    continue
                if n >= _CDC_W:
                    codes = np.frombuffer(s.encode("ascii"), np.uint8).astype(
                        np.int64
                    )
                    acc = np.zeros(n - _CDC_W + 1, dtype=np.int64)
                    for j in range(_CDC_W):
                        acc += codes[j : j + n - _CDC_W + 1] * powers[j]
                    hit = (acc % 65536 * 40503) % 65536 < threshold
                    # acc[i] hashes the window ENDING at 1-based position
                    # i + W; interior boundaries only (p < n)
                    bounds = (np.nonzero(hit)[0] + _CDC_W).tolist()
                    if bounds and bounds[-1] == n:
                        bounds.pop()
                else:
                    bounds = []
                bounds.append(n)
                start = 0
                for k, end in enumerate(bounds):
                    chunk = s[start:end]
                    ids.append(doc_id)
                    idxs.append(k)
                    lens.append(len(chunk))
                    md5s.append(hashlib.md5(chunk.encode("ascii")).hexdigest())
                    start = end
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype=pdf["id"].dtype),
                    "chunk_idx": pd.Series(idxs, dtype="int32"),
                    "chunk_len": pd.Series(lens, dtype="int32"),
                    "chunk_md5": pd.Series(md5s, dtype="object"),
                }
            )

    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("s"))
    return base.mapInPandas(fn, out_schema)
