"""Deterministic probability-proportional-to-size (PPS) sampling.

Systematic sampling by cumulative integer weights — the data-mixing
primitive behind "sample a k-document training slice where long
documents are proportionally more likely": lay every document's integer
weight end to end on a number line in a canonical order, then pick one
document at every ``step = W div k`` weight units. Deterministic (no
RNG), exactly reproducible across runs and engines (pure integer
arithmetic), and heavy documents can legitimately be picked more than
once (``n_picks`` > 1 — the PPS contract).

The inclusive prefix sum is :func:`operators.util.prefix_sums` (a
global ``Window.orderBy`` would be one task).

Floor-division discipline: pick counts are
``floor((C-1)/step) - floor((C-w-1)/step)`` over the covered interval
[C-w, C); both numerators are offset by ``+step`` so every operand is
non-negative and Spark's truncating ``div`` equals DuckDB's floor ``//``
— no negative-division semantics gap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lithops_dataframe_spark.operators.util import empty_frame, prefix_sums, values_frame


def systematic_weighted_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    *,
    k: int,
) -> DataFrame:
    """PPS-systematic sample of ~``k`` picks. Returns the selected rows:
    (id, w, c_incl, n_picks) with ``n_picks ≥ 1``; Σ n_picks =
    ceil(W / step). Weights must be non-negative integers; zero-weight
    rows are never picked."""
    base = df.select(
        F.col(id_col).alias("id"), F.col(weight_col).cast("long").alias("w")
    )
    total = base.agg(F.sum("w").alias("W")).collect()[0]["W"]
    if not total:  # empty input / all-zero weights: nothing to pick
        return empty_frame(
            df.sparkSession, "id long, w long, c_incl long, n_picks long"
        )
    step = max(1, int(total) // k)

    c = prefix_sums(base, ["id"], {"c_incl": F.col("w")})
    picks = F.expr(f"(c_incl - 1 + {step}) div {step}") - F.expr(
        f"(c_incl - w - 1 + {step}) div {step}"
    )
    return (
        c.withColumn("n_picks", picks)
        .filter(F.col("n_picks") >= 1)
        .select("id", "w", "c_incl", "n_picks")
    )


#: 2^52 — the md5-prefix uniform's denominator. 13 hex digits = 52 bits,
#: so (h+1)/2^52 ∈ (0, 1] is EXACT in a double (every integer ≤ 2^52 is
#: representable), and both engines start the log from the identical
#: float. A 15-digit/60-bit prefix would NOT be exact.
_U52 = float(1 << 52)


def weighted_reservoir_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    *,
    k: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One-pass weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    A-ES, Inf. Process. Lett. 97(5), 2006): each row draws a deterministic
    uniform u from its id's md5 prefix and keeps key = −ln(u)/w; the k
    SMALLEST keys are the sample (equivalently the largest u^(1/w) — the
    classic reservoir order statistic). P(i in sample) is exactly the
    weighted-without-replacement inclusion probability.

    Determinism/exactness: u = (h+1)/2^52 is an exact double from a pure
    md5 hash, so both engines transform the identical float; the key is
    rounded to 9 decimals (libm ln may differ in the last ulp between
    engines) and ties — including rounding-induced ones — break on id, so
    the selected SET is engine-stable.

    Scale shape: a narrow map (hash + log) followed by ``ORDER BY key
    LIMIT k`` — Spark plans TakeOrderedAndProject (per-partition top-k,
    then a k-row merge on one reducer), never a global sort. At 100 TB
    this is the scan plus a k-row shuffle; it is THE distributed form of
    reservoir sampling (the sequential reservoir's heap is replaced by
    per-partition top-k + merge, same order statistics).

    Weight contract: ``weight_col`` is cast to BIGINT **before** the
    positivity filter, so fractional weights TRUNCATE toward zero — 2.9
    weighs as 2, and a weight in (0, 1) truncates to 0 and the row is
    excluded like any non-positive weight. This is deliberate: an
    integer w makes −ln(u)/w a two-operand double expression both
    engines evaluate identically (a fractional w would add a
    double-division whose last-ulp could differ between libms and flip a
    rounding-boundary key), and the intended weights are integer counts
    (chars, tokens, bytes). Callers with genuinely fractional weights
    must pre-scale to integers (e.g. ``round(w * 1000)``) — which also
    fixes the resolution of the weighting explicitly.

    Rows with non-positive or NULL weight are never picked (zero-weight
    rows have u^(1/w) → degenerate; excluded by contract, as in
    :func:`systematic_weighted_sample`). NULL ids are excluded too —
    md5(NULL) would give a NULL key, which Spark's ascending sort puts
    FIRST and DuckDB's puts LAST (the documented NULLS FIRST/LAST
    divergence class, operators/evaluation.py) — a NULL id must never
    occupy a reservoir slot on either engine.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(weight_col).cast("long").alias("w"),
        *extra_cols,
    ).filter((F.col("w") > 0) & F.col("id").isNotNull())
    h = F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 13), 16, 10).cast(
        "long"
    )
    key = F.round(-F.log((h + F.lit(1)) / F.lit(_U52)) / F.col("w"), 9)
    return (
        base.withColumn("res_key", key)
        .orderBy(F.col("res_key").asc(), F.col("id").asc())
        .limit(k)
    )


def weighted_interleave_epoch(
    df: DataFrame,
    source_col: str,
    id_col: str,
    *,
    budget: int,
) -> DataFrame:
    """Deterministic source-weighted dataset mixing — the APPLY half of
    temperature sampling (sample_temperature_weights computes the plan;
    this materializes one training epoch in its interleaved serve order).

    Per source s: weight w_s = ⌊√n_s⌋ (integer-exact temperature-0.5 —
    IEEE sqrt is correctly rounded, so the floor replays bit-identically
    in any engine), quota k_s = min(n_s, budget·w_s div Σw). Rows are
    picked per source by md5 hash order (deterministic shuffle), and the
    epoch position follows WEIGHTED ROUND-ROBIN: row r of source s serves
    at virtual time v = r/k_s, ordered by (v, source).

    The scale trick: that global order is computed in CLOSED FORM, not
    with a global window. Under (v ASC, source ASC),

        pos(s, r) = r + Σ_{s'≠s} [ ⌈r·k_s'/k_s⌉ − 1
                                   + 1 if r·k_s' ≡ 0 (mod k_s) ∧ s' < s ]

    — each term counts how many of source s' rows serve strictly before
    (or tie-break before) this one. The per-source quota table is
    driver-sized model state (like LR weights or k-means centroids):
    collected once, re-broadcast as an array literal, and folded with one
    ``aggregate`` HOF — so the whole epoch assignment is ONE shuffle (the
    per-source rank window), no global sort, no single-task stage.
    Integer ceils use (q − q mod k)/k + [q mod k > 0] with the exact
    division done in DECIMAL (``_exact_div``), so the formula holds for
    the full BIGINT range — no 2⁵³ caveat (ADVICE r8).
    """
    base = df.select(F.col(source_col).alias("source"), F.col(id_col).alias("id"))
    counts = base.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    wts = counts.withColumn("w", F.floor(F.sqrt(F.col("n"))).cast("long"))
    total_w = wts.agg(F.sum("w").alias("tw")).collect()[0]["tw"]
    if not total_w:  # empty corpus: an empty epoch, not a TypeError
        return empty_frame(
            df.sparkSession, "id long, source string, r long, epoch_pos long"
        )
    quotas = wts.select(
        "source",
        F.least(
            F.col("n"),
            ((F.lit(int(budget)) * F.col("w")) - (F.lit(int(budget)) * F.col("w")) % F.lit(int(total_w)))
            / F.lit(int(total_w)),
        )
        .cast("long")
        .alias("k"),
    ).filter(F.col("k") >= 1)

    ranked = base.join(F.broadcast(quotas), "source").withColumn(
        "r",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("id").cast("string")).asc(), F.col("id").asc()
            )
        )
        .cast("long"),
    )
    sel = ranked.filter(F.col("r") <= F.col("k"))

    # quota table → driver (S rows of model state) → array literal
    ktab = sorted((row["source"], int(row["k"])) for row in quotas.collect())
    arr = F.array(
        *[
            F.struct(F.lit(s).alias("src"), F.lit(k).cast("long").alias("kk"))
            for s, k in ktab
        ]
    )

    def term(acc, x):
        q = F.col("r") * x["kk"]
        m = q % F.col("k")
        ceil_div = _exact_div(q - m, F.col("k")) + F.when(m > 0, F.lit(1)).otherwise(F.lit(0))
        tie = F.when((m == 0) & (x["src"] < F.col("source")), F.lit(1)).otherwise(F.lit(0))
        return acc + F.when(
            x["src"] == F.col("source"), F.lit(0).cast("long")
        ).otherwise(ceil_div - 1 + tie)

    return sel.select(
        "id",
        "source",
        "r",
        (F.col("r") + F.aggregate(arr, F.lit(0).cast("long"), term)).alias("epoch_pos"),
    )


def _quota_array(ktab: list[tuple[str, int]]):
    """Per-source quota table as an array-of-structs literal (driver-sized
    model state, like LR weights or k-means centroids)."""
    return F.array(
        *[
            F.struct(F.lit(s).alias("src"), F.lit(k).cast("long").alias("kk"))
            for s, k in ktab
        ]
    )


def _exact_div(num, den):
    """``num / den`` where ``num`` is an exact multiple of ``den``,
    computed in DECIMAL so the quotient stays exact for the full BIGINT
    range (ADVICE r8: the double-division form was exact only while
    rank·quota < 2^53 — a silent caveat for 100TB-scale schedules where
    global ranks × per-source quotas can exceed it)."""
    return (num.cast("decimal(38,0)") / den).cast("long")


def _wrr_pos(arr, rank, own_k):
    """Closed-form weighted-round-robin position (see
    :func:`weighted_interleave_epoch` for the derivation): the global
    serve rank of a row with per-source ``rank`` and quota ``own_k``
    under (rank/quota ASC, source ASC) ordering, computed as ONE
    ``aggregate`` fold over the broadcast quota array — no global sort,
    no single-task window."""

    def term(acc, x):
        q = rank * x["kk"]
        m = q % own_k
        ceil_div = _exact_div(q - m, own_k) + F.when(m > 0, F.lit(1)).otherwise(
            F.lit(0)
        )
        tie = F.when((m == 0) & (x["src"] < F.col("source")), F.lit(1)).otherwise(
            F.lit(0)
        )
        return acc + F.when(
            x["src"] == F.col("source"), F.lit(0).cast("long")
        ).otherwise(ceil_div - 1 + tie)

    return rank + F.aggregate(arr, F.lit(0).cast("long"), term)


#: epoch → per-source integer weight, the annealing curriculum:
#: uniform (every source equal) → temperature-0.5 (⌊√n⌋) → natural (n).
#: All integer-exact: IEEE sqrt is correctly rounded, so ⌊√n⌋ replays
#: bit-identically in any engine.
EPOCH_WEIGHT_SCHEDULE = ("uniform", "sqrt", "natural")


def multi_epoch_interleave(
    df: DataFrame,
    source_col: str,
    id_col: str,
    *,
    budget: int,
    schedule: tuple[str, ...] = EPOCH_WEIGHT_SCHEDULE,
) -> DataFrame:
    """Multi-epoch mixture schedule — the TRAINING-RUN extension of
    :func:`weighted_interleave_epoch` (one epoch) to an annealed
    curriculum: epoch 0 samples sources uniformly, epoch 1 at
    temperature 0.5, epoch 2 at natural proportions, and sampling is
    WITHOUT REPLACEMENT ACROSS EPOCHS — each epoch continues down the
    per-source md5 pick order where the previous epochs stopped,
    wrapping (mod n_s) when a source is exhausted, so no document
    repeats until its whole source has been served once.

    Returns one row per (epoch, selected doc): ``(epoch, id, source,
    sel_rank, epoch_pos)`` where sel_rank is the within-epoch serve rank
    of that doc in its source and epoch_pos the closed-form
    weighted-round-robin position inside the epoch.

    Scale shape: ONE rank window over the corpus (per-source md5 order),
    persisted and reused by every epoch projection; quota/offset tables
    are driver-sized model state (S rows per epoch) joined back as
    broadcasts; epoch_pos is the same one-fold closed form as the
    single-epoch operator. Work: one shuffle + E narrow projections,
    independent of E × corpus re-scans."""
    import math

    from lithops_dataframe_spark import cache

    base = df.select(F.col(source_col).alias("source"), F.col(id_col).alias("id"))
    counts = base.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    ntab = {row["source"]: int(row["n"]) for row in counts.collect()}
    empty = empty_frame(
        df.sparkSession, "epoch int, id long, source string, sel_rank long, epoch_pos long"
    )
    if not ntab:  # empty corpus: an empty schedule, not a ZeroDivisionError
        return empty

    def weight(kind: str, n: int) -> int:
        if kind == "uniform":
            return 1
        if kind == "sqrt":
            # floor of the correctly-rounded IEEE sqrt — what both
            # engines' floor(sqrt(n)) computes
            return int(math.floor(math.sqrt(n)))
        if kind == "natural":
            return n
        raise ValueError(f"unknown epoch weight kind: {kind}")

    # per-epoch quotas and cross-epoch start offsets, all in driver-side
    # integer arithmetic (S × E values of model state)
    quotas: list[dict[str, int]] = []
    consumed = {s: 0 for s in ntab}
    offsets: list[dict[str, int]] = []
    for kind in schedule:
        w = {s: weight(kind, n) for s, n in ntab.items()}
        tw = sum(w.values())
        k = {s: min(n, (budget * w[s]) // tw) for s, n in ntab.items()}
        offsets.append({s: consumed[s] % ntab[s] for s in ntab})
        quotas.append(k)
        for s in ntab:
            consumed[s] += k[s]

    from pyspark import StorageLevel

    ranked = cache.track(
        base.withColumn(
            "r",
            F.row_number()
            .over(
                Window.partitionBy("source").orderBy(
                    F.md5(F.col("id").cast("string")).asc(), F.col("id").asc()
                )
            )
            .cast("long"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )

    parts = []
    for e, kind in enumerate(schedule):
        ktab = sorted((s, k) for s, k in quotas[e].items() if k >= 1)
        if not ktab:
            continue
        qdf = F.broadcast(
            values_frame(
                df.sparkSession,
                [(s, k, offsets[e][s], ntab[s]) for s, k in ktab],
                "source string, k long, c long, n long",
            )
        )
        slot = F.pmod(F.col("r") - 1 - F.col("c"), F.col("n"))
        sel = (
            ranked.join(qdf, "source")
            .withColumn("sel_rank", (slot + 1).cast("long"))
            .filter(slot < F.col("k"))
        )
        parts.append(
            sel.select(
                F.lit(e).cast("int").alias("epoch"),
                "id",
                "source",
                "sel_rank",
                _wrr_pos(_quota_array(ktab), F.col("sel_rank"), F.col("k"))
                .cast("long")
                .alias("epoch_pos"),
            )
        )
    if not parts:  # every epoch's quotas rounded to zero
        return empty
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
