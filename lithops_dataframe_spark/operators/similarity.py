"""Similarity search over embedding columns (SURVEY §2.11).

Reference context: the reference (cloudbutton/lithops-dataframe) has no
vector operations at all — its only compute surface is pandas closures over
CSV chunks (`core.py:253-256`). This module supplies the north-star
similarity surface the target engine requires, Spark-first:

- **exact cosine top-k** — the baseline: broadcast the (small) query set,
  one narrow pass over the corpus computing cosine via JVM-side
  higher-order functions (``zip_with`` + ``aggregate`` — no Python UDF),
  then per-query top-k with a window. At 100 TB the corpus side stays
  partition-parallel and nothing but (n_queries × k) rows ever shuffles
  after the per-partition rank pre-prune.
- **sign-LSH (random hyperplane) ANN** — the scale path: T hash tables ×
  P hyperplanes; bucket key per table = sign-bit pattern of the
  hyperplane dot products. Candidates = corpus rows sharing a bucket with
  the query in ≥1 table; exact cosine re-ranks candidates only. The
  bucket join is an equi-join (hash shuffle on compact int keys) instead
  of a cross join.
- **cosine near-dup pairs** — all-pairs j ≥ threshold; exact variant for
  the oracle gate, LSH-bucketed variant for scale.

Hyperplanes are module-level constants generated from a fixed seed, so the
DuckDB oracles (plans/similarity_q.py) replicate buckets bit-for-bit:
identical candidates → identical results, making even the *approximate*
path hash-checkable.

All arithmetic is done in float64 after an explicit cast of each float32
component — the same cast order as the oracle SQL — so dot products agree
to the last ulp modulo summation order (outputs are rounded to 6 decimals
on both sides).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lithops_dataframe_spark.operators.util import ensure_parallelism

#: Embedding dimensionality of the fixture corpus (embeddings.parquet).
DIM = 64

#: LSH configuration: N_TABLES hash tables, N_PLANES hyperplanes each.
N_TABLES = 4
N_PLANES = 8

_rng = random.Random(0xC0FFEE)
#: HYPERPLANES[t][p] is a DIM-vector of N(0,1) components rounded to 6
#: decimals — embedded as literals in both the Spark plan and the oracle
#: SQL, so bucket assignment is engine-independent.
HYPERPLANES: list[list[list[float]]] = [
    [[round(_rng.gauss(0.0, 1.0), 6) for _ in range(DIM)] for _ in range(N_PLANES)]
    for _ in range(N_TABLES)
]


# --- non-finite vector hygiene gate (r12 edge class) ---
#
# A corrupt upstream encode leaves NaN/±Inf components in real embedding
# corpora. One such vector poisons everything it touches: its cosine is
# NaN with EVERY query, and because Spark/DuckDB both sort NaN above +Inf
# in DESC order, a top-k would return the corrupt vector as the best
# match for every query; trainers (k-means / PQ / PCA) smear NaN through
# every centroid they fold it into. The production contract is the one
# the embedding-table audit (emb_table_audit, which deliberately reads
# RAW rows and reports n_nan_comp) implies: vector OPS run behind the
# hygiene gate — non-finite vectors are excluded before indexing,
# training, scoring, or pair mining. `FINITE_EMB_CTE` is the DuckDB twin
# (a shadowing CTE, same pattern as the events non-finite-value policy in
# plans/registry.py; `main.embeddings` because a bare self-named CTE
# reference binds circularly in DuckDB).

FINITE_EMB_CTE = (
    "WITH embeddings AS (SELECT * FROM main.embeddings "
    "WHERE len(list_filter(embedding, x -> NOT isfinite(x::DOUBLE))) = 0) "
)


def finite_emb_oracle(sql: str) -> str:
    """Wrap an oracle so every ``embeddings`` reference resolves to the
    hygiene-gated view — apply to every vector-op oracle (NOT the audit,
    which must see the corrupt rows to report them)."""
    return FINITE_EMB_CTE + "SELECT * FROM (" + sql + "\n) __finite_emb_q"


def finite_vectors(df: DataFrame, emb_col: str = "embedding") -> DataFrame:
    """Spark half of the hygiene gate: drop rows whose vector carries any
    non-finite component. Narrow JVM-side predicate (no UDF), evaluated
    in the scan stage — at 100 TB it rides the existing full pass."""
    c = F.col(emb_col)
    bad = F.exists(c, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf"))))
    return df.filter(~bad)


# ---------------------------------------------------------------------------
# core expressions (JVM-side higher-order functions — no Python UDFs)
# ---------------------------------------------------------------------------
def dot(a: Column, b: Column) -> Column:
    """Σ a[i]*b[i] in float64 (explicit per-component cast, index order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Guarded cosine of ``a`` and ``b`` given their norms: NULL when either
    vector has zero norm (undefined similarity), matching DuckDB's x/0.0 →
    NULL instead of crashing under ANSI (r9 edge sweep). A NULL sim ranks
    last on both engines (Spark DESC and DuckDB both order NULLS LAST) and
    fails any threshold predicate. Operators bind the norms once per row,
    so each pair costs ONE fold — the same doubles as the inline form."""
    return F.when(na * nb > 0, dot(a, b) / (na * nb))


def cosine(a: Column, b: Column) -> Column:
    """Guarded cosine with inline norms (see :func:`cosine_from_norms`).
    Catalyst's subexpression elimination shares the norm folds between
    the guard and the division."""
    return cosine_from_norms(a, b, norm(a), norm(b))


def _top_k(cand: DataFrame, k: int) -> DataFrame:
    """Shared top-k tail: score (query_id, neighbor_id, q_emb, c_emb,
    q_nrm, c_nrm) candidates with :func:`cosine_from_norms`, rank per query
    by sim DESC, neighbor_id ASC, keep ranks ≤ k, and emit
    (query_id, neighbor_id, rank, sim rounded to 6)."""
    sim = cosine_from_norms(F.col("q_emb"), F.col("c_emb"), F.col("q_nrm"), F.col("c_nrm"))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), F.round("sim", 6).alias("sim"))
    )


def with_unit(df: DataFrame, emb_col: str, out_col: str = "unit") -> DataFrame:
    """Attach the unit-normalized embedding. Norm materializes in its own
    projection so the fold runs once per row, not once per element; pair
    similarity then costs ONE dot instead of three (dot + both norms) —
    the difference between 1× and 3× work in quadratic all-pairs scoring.

    A zero-norm embedding normalizes to the ZERO vector (not an ANSI
    DIVIDE_BY_ZERO crash — r9 edge sweep): every downstream unit-dot is
    then 0, which fails any positive similarity threshold exactly like
    the oracle's NULL cosine does."""
    return (
        df.withColumn("__norm", norm(F.col(emb_col)))
        .withColumn(
            out_col,
            F.when(
                F.col("__norm") > 0,
                F.transform(F.col(emb_col), lambda x: x.cast("double") / F.col("__norm")),
            ).otherwise(F.transform(F.col(emb_col), lambda x: F.lit(0.0))),
        )
        .drop("__norm")
    )


def with_buckets(df: DataFrame, emb_col: str) -> DataFrame:
    """Explode each row into N_TABLES (table_idx, bucket) postings.

    Narrow map (plus a parallelism-restoring repartition for single-split
    local inputs): dots are materialized once per row (``__dots``
    projection), bucket keys are cheap sign-bit sums over it.

    The plane matrix rides in as a one-row broadcast frame rather than a
    2048-literal expression tree: same doubles, but the per-call Catalyst
    analysis/codegen drops ~2× (measured 1.39 s → 0.82 s warm per bucket
    pass at sf0.1 — pure driver overhead, matters per query not per row).
    """
    from lithops_dataframe_spark.operators.util import matrix_sql, one_row_frame

    spark = df.sparkSession
    flat = [HYPERPLANES[t][p] for t in range(N_TABLES) for p in range(N_PLANES)]
    # one-row literal frame over OneRowRelation (r13, util.py note): the
    # createDataFrame form scheduled a defaultParallelism wave of pickled
    # Python tasks per broadcast build (~0.27 s each, sf-independent);
    # the SQL double literals round-trip bit-identically (verified).
    planes = F.broadcast(one_row_frame(spark, __planes=matrix_sql(flat)))
    # The dot fold and the per-table sign-bit keys are built as ONE SQL
    # expression string each: the equivalent Column-object formulation is
    # ~1,000 py4j round-trips (each F.when/element_at/lit is a JVM call),
    # which costs multiple seconds of pure driver time per query. Same
    # Catalyst tree, same arithmetic (double dots, int bit sums) — only
    # the construction path changes.
    dots_sql = (
        "transform(__planes, pl -> aggregate("
        f"zip_with({emb_col}, pl, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0D, (acc, v) -> acc + v))"
    )
    posting_sql = (
        f"explode(transform(sequence(0, {N_TABLES - 1}), t -> named_struct("
        "'table_idx', CAST(t AS INT), "
        f"'bucket', CAST(aggregate(sequence(0, {N_PLANES - 1}), 0, (acc, p) -> "
        f"acc + IF(element_at(__dots, CAST(t AS INT) * {N_PLANES} + p + 1) > 0D, "
        "shiftleft(1, p), 0)) AS INT))))"
    )
    dotted = (
        ensure_parallelism(df)
        .crossJoin(planes)
        .withColumn("__dots", F.expr(dots_sql))
        .drop("__planes")
    )
    return dotted.select("*", F.expr(posting_sql).alias("p")).select(
        *df.columns, F.col("p.table_idx").alias("table_idx"), F.col("p.bucket").alias("bucket")
    )


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------
def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: for each query row, the k nearest corpus rows.

    Returns (query_id, neighbor_id, rank, sim); self-matches excluded.

    Scale shape: ``broadcast(queries)`` keeps the corpus scan shuffle-free
    except for one round-robin exchange pinning the CPU-bound scoring at
    full parallelism (byte-small vector files otherwise land the whole
    cross product in ONE input partition — the decon r7 lesson); the
    window ranks within query_id partitions — with Q queries the shuffle
    moves only the (corpus × Q) scored rows, and AQE coalesces. Norms
    precompute once per row on each side, so each pair costs ONE fold
    (``sim = dot/(q_nrm·c_nrm)``, bit-identical to the inline cosine —
    every factor is the same in-order expression, just bound per row).
    For very large Q, swap the broadcast for a bucket join (see ann_topk).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("q_emb"),
        norm(F.col(emb_col)).alias("q_nrm"),
    )
    c = corpus.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(emb_col).alias("c_emb"),
        norm(F.col(emb_col)).alias("c_nrm"),
    )
    # a zero-norm vector (e.g. an all-zero Matryoshka prefix of a vector
    # supported only on later dims) scores NULL (edge-fixture r8)
    return _top_k(c.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id")), k)


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 10,
    multi_probe_bits: int = 0,
    broadcast_queries: bool = False,
) -> DataFrame:
    """Approximate top-k via sign-LSH buckets + exact re-rank of candidates.

    Candidates = corpus rows sharing a (table, bucket) with the query in at
    least one of the N_TABLES hash tables. Recall < 1 by design; the
    candidate equi-join on (table_idx, bucket) replaces the cross join —
    at 100 TB this is a hash-partitioned join on int keys with per-bucket
    fan-out instead of |corpus| × |queries| work.

    ``multi_probe_bits`` = n > 0 additionally probes, per (query, table),
    the n buckets at Hamming distance 1 obtained by flipping each of the
    first n sign bits — the standard multi-probe LSH recall lever
    (SCALE.md §Similarity): a near neighbor that lands one sign bit away
    still becomes a candidate. Cost is a (n+1)× fan-out of the QUERY-side
    postings only (queries ≪ corpus); the corpus postings, the slim-join
    shape, and the index itself are unchanged — recall rises without
    adding tables or re-hashing the corpus.

    ``broadcast_queries=True`` (opt-in — ADVICE r12: no size guard exists
    here, so the caller must KNOW its query set is bounded) hints the
    query postings broadcast so the corpus postings stream through a
    BroadcastHashJoin with zero corpus-side exchange. Default False: the
    bucket join stays a shuffled join AQE sizes, safe for corpus-scale
    query sets.
    """
    # Norms ride the payload projections so the per-candidate score is
    # ONE fold (sim = dot/(q_nrm·c_nrm), bit-identical to inline cosine).
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("q_emb"),
        norm(F.col(emb_col)).alias("q_nrm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(emb_col).alias("c_emb"),
        norm(F.col(emb_col)).alias("c_nrm"),
    )
    # Slim bucket join: postings carry only (id, table_idx, bucket);
    # embeddings rejoin AFTER candidate dedup (payload movement is
    # O(candidates), and the query side re-attaches via broadcast).
    #
    # SPLIT bucket passes (r13): the corpus postings stream straight out
    # of their own with_buckets pass into the bucket join — no persist,
    # no materialization, ONE corpus pass — and the query-side postings
    # come from a second, query-sized pass that only touches the bounded
    # probe set. History: r11 ran one tagged-union bucket pass, unhinted,
    # so the join SortMergeJoin-shuffled the full corpus postings; r12
    # broadcast the query side but had to PERSIST the union postings
    # (the broadcast build would otherwise re-run the corpus half), and
    # that materialization measured SLOWER than the shuffle it replaced
    # in both committed records (driver speedup 0.751). The split shape
    # keeps r12's zero-corpus-exchange join without the persist:
    # interleaved same-process A/B (plans/r13/ab_records.jsonl) has it
    # beating union_persist by ~17% at sf0.1 and level with r11, and at
    # 100 TB the corpus is scanned once and never cached or shuffled.
    cb = with_buckets(
        c.select("neighbor_id", F.col("c_emb").cast("array<double>").alias("__emb")), "__emb"
    ).select("neighbor_id", "table_idx", "bucket")
    qb = with_buckets(
        q.select("query_id", F.col("q_emb").cast("array<double>").alias("__emb")), "__emb"
    ).select("query_id", "table_idx", "bucket")
    if multi_probe_bits:
        if not 0 < multi_probe_bits <= N_PLANES:
            raise ValueError(f"multi_probe_bits must be in [1, {N_PLANES}]")
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(multi_probe_bits)],
        )
        qb = qb.select(
            "query_id", "table_idx", F.explode(probes).alias("bucket")
        ).dropDuplicates(["query_id", "table_idx", "bucket"])
    cand = (
        cb.join(F.broadcast(qb) if broadcast_queries else qb, ["table_idx", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
        .join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
    )
    return _top_k(cand, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus into cells,
    probe only the ``n_probe`` nearest cells per query, exact re-rank.

    The coarse quantizer is either a TRAINED centroid matrix passed in via
    ``centroids`` (the production path — train with
    ``operators.clustering.kmeans_fit``, whose per-iteration rounding makes
    the matrix replayable by the differential oracle) or, when omitted, a
    fixed deterministic fallback (the ``n_cells`` lowest-id corpus
    vectors). Recall < 1 by design (cell misses), like any IVF index;
    trained centroids raise recall at the same probe budget because cells
    follow the data distribution instead of arbitrary seed vectors.

    Cell assignment is a NARROW map: the quantizer (n_cells × dim — the
    same driver-sized state k-means carries) rides in as a one-row
    broadcast frame, and each row picks its n best cells by sorting a
    per-row (−sim, cell_id) struct array. The previous formulation
    exploded every row × n_cells and ranked with a window partitioned by
    ROW ID — a full-corpus × n_cells shuffle that would dominate at
    100 TB; this one shuffles nothing before the candidate equi-join.
    """
    spark = corpus.sparkSession
    if centroids is not None:
        cent_mat = [[float(v) for v in c] for c in centroids]
        cell_ids = list(range(len(cent_mat)))
    else:
        cent_rows = (
            corpus.filter(F.col(id_col) < n_cells)
            .select(F.col(id_col).alias("cell_id"), F.col(emb_col).alias("cent"))
            .orderBy("cell_id")
            .collect()
        )
        cent_mat = [[float(v) for v in r["cent"]] for r in cent_rows]
        cell_ids = [int(r["cell_id"]) for r in cent_rows]
    from lithops_dataframe_spark.operators.util import matrix_sql, one_row_frame

    cframe = F.broadcast(
        one_row_frame(
            spark,
            __cents=matrix_sql(cent_mat),
            __cids="CAST(array(" + ",".join(str(int(c)) for c in cell_ids) + ") AS array<int>)",
        )
    )

    # centroid norms materialize ONCE in the one-row broadcast frame's
    # projection (computed before the BroadcastExchange, not per joined
    # row); the row's own norm hoists to a column. Both reuse the exact
    # doubles the inline cosine() produced, so assignments are
    # bit-identical to the oracle's replay — just ~3× cheaper (the
    # per-(row,cell) work drops from dot+2 norms to one dot + a divide).
    cframe_n = cframe.withColumn(
        "__cnorms", F.transform(F.col("__cents"), lambda c: norm(c))
    )

    def nearest_cells(df: DataFrame, idc: str, embc: str, n: int, nrm_out: str) -> DataFrame:
        """Attach the n nearest cell ids (by cosine desc, cell_id asc tie
        break — encoded as ascending (−sim, cell_id) struct sort) plus the
        row's own norm (``nrm_out``) so the downstream candidate score is
        ONE fold instead of dot + two norms (same trick as ann_topk; the
        norm doubles are the exact values the inline cosine would fold)."""
        idx = F.sequence(F.lit(0), F.lit(len(cell_ids) - 1))
        ranked = F.slice(
            F.array_sort(
                F.transform(
                    idx,
                    # zero-norm row or centroid: cosine undefined → negsim
                    # +inf, so such cells sort LAST and a zero-norm query
                    # falls back to lowest-cell_id probes — exactly the
                    # oracle's NULLS-LAST + cell_id tie-break (r9 edge
                    # sweep, ANSI div-by-zero otherwise)
                    lambda i: F.struct(
                        F.when(
                            F.col("__rn") * F.element_at(F.col("__cnorms"), i + 1) > 0,
                            -dot(F.col(embc), F.element_at(F.col("__cents"), i + 1))
                            / (F.col("__rn") * F.element_at(F.col("__cnorms"), i + 1)),
                        )
                        .otherwise(F.lit(float("inf")))
                        .alias("negsim"),
                        F.element_at(F.col("__cids"), i + 1).alias("cell_id"),
                    ),
                )
            ),
            1,
            n,
        )
        return (
            df.withColumn("__rn", norm(F.col(embc)))
            .crossJoin(cframe_n)
            .withColumn("__cell", F.explode(ranked))
            .select(
                *df.columns,
                F.col("__rn").alias(nrm_out),
                F.col("__cell.cell_id").alias("cell_id"),
            )
        )

    c_assigned = nearest_cells(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("c_emb")),
        "neighbor_id",
        "c_emb",
        1,
        "c_nrm",
    )
    q_assigned = nearest_cells(
        queries.select(F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb")),
        "query_id",
        "q_emb",
        n_probe,
        "q_nrm",
    )
    # Probe join, unhinted: the query side is caller-sized (queries ×
    # n_probe rows), so the planner and AQE choose the join from its
    # measured size. No dropDuplicates: each corpus row is assigned
    # EXACTLY one cell (n=1 slice), so a (query, neighbor) pair can match
    # on at most one cell_id — a distinct here is a provable no-op
    # (guide §2.4: a distinct on data that is already unique).
    cand = c_assigned.join(q_assigned, "cell_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    # one fold per candidate (norms carried from assignment)
    return _top_k(cand, k)


def cosine_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.9,
    use_lsh: bool = True,
) -> DataFrame:
    """Embedding near-duplicate pairs: (id_a, id_b, sim) with sim ≥ threshold.

    ``use_lsh=True`` (the scale path) restricts comparisons to pairs
    sharing an LSH bucket in ≥1 table — near-exact for high thresholds
    (cosine ≥ 0.9 pairs collide in ≥1 of 4 tables with prob
    1-(1-(1-θ/π)^8)^4 ≈ 0.97). ``use_lsh=False`` is the exact quadratic
    baseline for small inputs / oracle use.
    """
    base = df.select(F.col(id_col).alias("id"), F.col(emb_col).alias("emb"))
    if use_lsh:
        # slim band join (ids only), embeddings rejoin on the candidates
        b = with_buckets(base, "emb").select("id", "table_idx", "bucket")
        a1, a2 = b.alias("a"), b.alias("b")
        cand = (
            a1.join(
                a2,
                (F.col("a.table_idx") == F.col("b.table_idx"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
            .join(
                base.select(
                    F.col("id").alias("id_a"),
                    F.col("emb").alias("emb_a"),
                    norm(F.col("emb")).alias("nrm_a"),
                ),
                "id_a",
            )
            .join(
                base.select(
                    F.col("id").alias("id_b"),
                    F.col("emb").alias("emb_b"),
                    norm(F.col("emb")).alias("nrm_b"),
                ),
                "id_b",
            )
        )
    else:
        # exact quadratic baseline: pre-normalize so each of the n²/2
        # pairs costs one dot product, not dot + two self-norms
        u = with_unit(ensure_parallelism(base), "emb").select("id", "unit")
        a1, a2 = u.alias("a"), u.alias("b")
        cand = a1.join(a2, F.col("a.id") < F.col("b.id")).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.unit").alias("emb_a"),
            F.col("b.unit").alias("emb_b"),
        )
        return (
            cand.withColumn("sim", dot(F.col("emb_a"), F.col("emb_b")))
            .filter(F.col("sim") >= threshold)
            .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
        )
    # one fold per candidate pair: norms were bound in the rejoin
    # projections above
    return (
        cand.withColumn(
            "sim",
            cosine_from_norms(F.col("emb_a"), F.col("emb_b"), F.col("nrm_a"), F.col("nrm_b")),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )


def label_centroids(
    df: DataFrame,
    *,
    label_col: str = "label",
    emb_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid vectors: element-wise mean of embeddings.

    posexplode → groupBy(label, pos) partial avg → reassemble via
    sort_array of (pos, avg) structs — every stage is a standard hash
    aggregate, so 100 TB of embeddings reduces with map-side combine
    (the shuffle carries one row per (label, dimension)). This is the
    k-means/IVF training primitive (assignment join + this = one Lloyd
    iteration).
    """
    pos = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(emb_col)).alias("pos", "v"),
    )
    dims = pos.groupBy("label", "pos").agg(
        F.avg(F.col("v").cast("double")).alias("m"), F.count(F.lit(1)).alias("n")
    )
    return (
        dims.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos").alias("pos"), F.col("m").alias("m")))
            ).alias("pm"),
            F.max("n").alias("n_vectors"),
        )
        .select(
            "label",
            F.transform(F.col("pm"), lambda s: F.round(s["m"], 6)).alias("centroid"),
            F.col("n_vectors").cast("long").alias("n_vectors"),
        )
    )


def knn_label_vote(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """k-NN majority-label classification of each query row.

    Composition: exact top-k → join labels → per-query majority (ties
    broken by smaller label). Returns (query_id, pred_label, votes).
    """
    topk = brute_force_topk(corpus, queries, id_col=id_col, emb_col=emb_col, k=k)
    labeled = topk.join(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nb_label")),
        "neighbor_id",
    )
    votes = labeled.groupBy("query_id", "nb_label").agg(F.count(F.lit(1)).alias("votes"))
    w = Window.partitionBy("query_id").orderBy(F.col("votes").desc(), F.col("nb_label").asc())
    return (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("query_id", F.col("nb_label").alias("pred_label"), F.col("votes").cast("long").alias("votes"))
    )
