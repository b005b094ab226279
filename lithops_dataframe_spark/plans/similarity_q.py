"""Similarity-search queries over the `embeddings` fixture — every operator
in operators/similarity.py as an oracle-checked `queries()` entry.

The DuckDB oracles are *generated from the same hyperplane constants* as
the Spark operators, so even the approximate LSH paths are hash-checkable:
identical bucket keys → identical candidate sets → identical results.
Cosine arithmetic matches by construction: per-component float32→float64
cast then an in-order left-fold sum on both engines; outputs rounded to 6
decimals on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lithops_dataframe_spark.catalog import load_table
from lithops_dataframe_spark.operators import similarity as S
from lithops_dataframe_spark.plans.registry import register

_K = 10
_NEARDUP_T = 0.4
_N_QUERIES = 5  # query set = vec_id < 5


# ---------------------------------------------------------------------------
# oracle SQL generators (twins of operators/similarity.py expressions)
# ---------------------------------------------------------------------------
def _dot_sql(a: str, b: str) -> str:
    return f"list_sum(list_transform(range(1, {S.DIM + 1}), i -> ({a}[i]::DOUBLE * {b}[i]::DOUBLE)))"


def _cos_sql(a: str, b: str) -> str:
    return f"({_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})))"


def _plane_lit(t: int, p: int) -> str:
    vals = ", ".join(repr(v) for v in S.HYPERPLANES[t][p])
    return f"([{vals}]::DOUBLE[])"


def _plane_dot_sql(emb: str, t: int, p: int) -> str:
    return (
        f"list_sum(list_transform(range(1, {S.DIM + 1}), "
        f"i -> ({emb}[i]::DOUBLE * {_plane_lit(t, p)}[i])))"
    )


def _bucket_sql(emb: str, t: int) -> str:
    terms = " + ".join(
        f"(CASE WHEN {_plane_dot_sql(emb, t, p)} > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(S.N_PLANES)
    )
    return f"({terms})::INT"


#: buckets CTE body: one posting row per (vector, hash table).
_BUCKETS = "\n      UNION ALL ".join(
    f"SELECT vec_id AS id, embedding AS emb, {t} AS table_idx, {_bucket_sql('embedding', t)} AS bucket "
    f"FROM embeddings"
    for t in range(S.N_TABLES)
)

_TOPK_BRUTE_ORACLE = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               {_cos_sql('q.q_emb', 'c.embedding')} AS sim
        FROM embeddings c CROSS JOIN q
        WHERE c.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
        FROM scored
    )
    SELECT query_id, neighbor_id, rk::INT AS rank, ROUND(sim, 6) AS sim
    FROM ranked WHERE rk <= {_K}
"""

# Multi-probe (VERDICT_r02 task 4): the query side also probes every
# bucket at Hamming distance 1 (all N_PLANES single-bit flips), mirroring
# ann_topk(multi_probe_bits=N_PLANES).
_QPROBES = "\n      UNION ALL ".join(
    [f"SELECT id, emb, table_idx, bucket FROM buckets WHERE id < {_N_QUERIES}"]
    + [
        f"SELECT id, emb, table_idx, xor(bucket, {1 << p})::INT AS bucket "
        f"FROM buckets WHERE id < {_N_QUERIES}"
        for p in range(S.N_PLANES)
    ]
)

_TOPK_LSH_ORACLE = f"""
    WITH buckets AS (
      {_BUCKETS}
    ),
    qprobes AS (
      {_QPROBES}
    ),
    cand AS (
        SELECT DISTINCT q.id AS query_id, q.emb AS q_emb, c.id AS neighbor_id, c.emb AS c_emb
        FROM buckets c
        JOIN qprobes q ON c.table_idx = q.table_idx AND c.bucket = q.bucket
        WHERE c.id <> q.id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, {_cos_sql('q_emb', 'c_emb')} AS sim,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY {_cos_sql('q_emb', 'c_emb')} DESC, neighbor_id ASC) AS rk
        FROM cand
    )
    SELECT query_id, neighbor_id, rk::INT AS rank, ROUND(sim, 6) AS sim
    FROM ranked WHERE rk <= {_K}
"""

# exact path mirrors the operator's unit-normalize-then-dot formulation
# (same division operands → bit-identical unit vectors on both engines)
_NEARDUP_EXACT_ORACLE = f"""
    WITH u AS (
        SELECT vec_id AS id,
               list_transform(range(1, {S.DIM + 1}),
                              i -> embedding[i]::DOUBLE / sqrt({_dot_sql('embedding', 'embedding')})) AS unit
        FROM embeddings
    ),
    pairs AS (
        SELECT a.id AS id_a, b.id AS id_b, {_dot_sql('a.unit', 'b.unit')} AS sim
        FROM u a JOIN u b ON a.id < b.id
    )
    SELECT id_a, id_b, ROUND(sim, 6) AS sim FROM pairs WHERE sim >= {_NEARDUP_T}
"""

_NEARDUP_LSH_ORACLE = f"""
    WITH buckets AS (
      {_BUCKETS}
    ),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.emb AS emb_a, b.emb AS emb_b
        FROM buckets a
        JOIN buckets b ON a.table_idx = b.table_idx AND a.bucket = b.bucket AND a.id < b.id
    ),
    scored AS (
        SELECT id_a, id_b, {_cos_sql('emb_a', 'emb_b')} AS sim FROM cand
    )
    SELECT id_a, id_b, ROUND(sim, 6) AS sim FROM scored WHERE sim >= {_NEARDUP_T}
"""

# Trained-quantizer IVF (VERDICT_r02 task 2): centroids come from the SAME
# kmeans_fit replay the kmeans_cells oracle proves (k=_IVF_CELLS,
# _IVF_ITERS Lloyd iterations, 6-decimal rounding each update), so the
# approximate index is still hash-checkable end-to-end.
_IVF_CELLS = 32
_IVF_ITERS = 2
_IVF_PROBE = 4


def _ivf_oracle() -> str:
    from lithops_dataframe_spark.plans.kmeans_q import replay_ctes

    parts, final_cte = replay_ctes(_IVF_CELLS, _IVF_ITERS, S.DIM, prefix="k")
    replay = ",\n    ".join(parts)
    return f"""
    WITH {replay},
    cents AS (
        SELECT cell AS cell_id, list(m ORDER BY pos) AS cent
        FROM {final_cte} GROUP BY cell
    ),
    c_sc AS (
        SELECT e.vec_id AS neighbor_id, e.embedding AS c_emb, c.cell_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_cos_sql('e.embedding', 'c.cent')} DESC, c.cell_id ASC) AS crk
        FROM embeddings e CROSS JOIN cents c
    ),
    c_asg AS (SELECT neighbor_id, c_emb, cell_id FROM c_sc WHERE crk = 1),
    q_sc AS (
        SELECT e.vec_id AS query_id, e.embedding AS q_emb, c.cell_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_cos_sql('e.embedding', 'c.cent')} DESC, c.cell_id ASC) AS crk
        FROM embeddings e CROSS JOIN cents c
        WHERE e.vec_id < {_N_QUERIES}
    ),
    q_asg AS (SELECT query_id, q_emb, cell_id FROM q_sc WHERE crk <= {_IVF_PROBE}),
    cand AS (
        SELECT DISTINCT q.query_id, q.q_emb, c.neighbor_id, c.c_emb
        FROM c_asg c JOIN q_asg q ON c.cell_id = q.cell_id
        WHERE c.neighbor_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, {_cos_sql('q_emb', 'c_emb')} AS sim,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY {_cos_sql('q_emb', 'c_emb')} DESC, neighbor_id ASC) AS rk
        FROM cand
    )
    SELECT query_id, neighbor_id, rk::INT AS rank, ROUND(sim, 6) AS sim
    FROM ranked WHERE rk <= {_K}
"""


_KNN_VOTE_ORACLE = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 20
    ),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id, c.label AS nb_label,
               {_cos_sql('q.q_emb', 'c.embedding')} AS sim
        FROM embeddings c CROSS JOIN q
        WHERE c.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, nb_label,
               row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
        FROM scored
    ),
    votes AS (
        SELECT query_id, nb_label, COUNT(*) AS votes
        FROM ranked WHERE rk <= 5
        GROUP BY query_id, nb_label
    ),
    best AS (
        SELECT query_id, nb_label, votes,
               row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, nb_label ASC) AS vr
        FROM votes
    )
    SELECT query_id, nb_label AS pred_label, votes FROM best WHERE vr = 1
"""


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hygiene gate (r12): vector ops exclude non-finite vectors — see
    # operators/similarity.py::finite_vectors; the audit reads raw
    return S.finite_vectors(load_table(spark, sf_dir, "embeddings"))


def _emb_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


@register("sim_cosine_topk_bruteforce", oracle=S.finite_emb_oracle(_TOPK_BRUTE_ORACLE))
def sim_cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return S.brute_force_topk(emb, emb.filter(F.col("vec_id") < _N_QUERIES), k=_K)


@register("sim_cosine_topk_lsh", oracle=S.finite_emb_oracle(_TOPK_LSH_ORACLE))
def sim_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN with multi-probe: each query also probes the N_PLANES
    buckets one bit-flip away in every hash table (recall lever at fixed
    table/plane budget; see test_multi_probe_improves_recall)."""
    emb = _emb(spark, sf_dir)
    # broadcast_queries opt-in: the probe set is bounded by construction
    # (vec_id < _N_QUERIES), so the corpus postings stream through a
    # BroadcastHashJoin with no corpus-side exchange (guide §3.1).
    return S.ann_topk(
        emb,
        emb.filter(F.col("vec_id") < _N_QUERIES),
        k=_K,
        multi_probe_bits=S.N_PLANES,
        broadcast_queries=True,
    )


#: trained-quantizer memo, keyed by sf_dir. kmeans_fit is deterministic
#: (fixed lowest-id init, fixed iteration count, 6-decimal rounding), so
#: re-training on the same fixture always reproduces the same matrix —
#: caching mirrors production IVF, where the index trains OFFLINE once and
#: queries pay only assignment + candidate re-rank.
_IVF_CENTROIDS: dict[str, list[list[float]]] = {}


def _trained_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    if sf_dir not in _IVF_CENTROIDS:
        from lithops_dataframe_spark.operators.clustering import kmeans_fit

        _IVF_CENTROIDS[sf_dir], _ = kmeans_fit(
            _emb(spark, sf_dir), k=_IVF_CELLS, iterations=_IVF_ITERS
        )
    return _IVF_CENTROIDS[sf_dir]


@register("sim_cosine_topk_ivf", oracle=S.finite_emb_oracle(_ivf_oracle()))
def sim_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer: kmeans_fit (k=_IVF_CELLS,
    _IVF_ITERS iterations — deterministic, replayed by the oracle's CTE
    chain) supplies the centroids; probing _IVF_PROBE cells re-ranks only
    candidate cells' members. See tests/test_similarity_ops.py for the
    recall@k >= 0.9 assertion vs sim_cosine_topk_bruteforce."""
    emb = _emb(spark, sf_dir)
    return S.ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < _N_QUERIES),
        k=_K,
        n_probe=_IVF_PROBE,
        centroids=_trained_centroids(spark, sf_dir),
    )


@register("sim_cosine_neardup_exact", oracle=S.finite_emb_oracle(_NEARDUP_EXACT_ORACLE))
def sim_cosine_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_near_dup_pairs(_emb(spark, sf_dir), threshold=_NEARDUP_T, use_lsh=False)


@register("sim_cosine_neardup_lsh", oracle=S.finite_emb_oracle(_NEARDUP_LSH_ORACLE))
def sim_cosine_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_near_dup_pairs(_emb(spark, sf_dir), threshold=_NEARDUP_T, use_lsh=True)


# SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
# embedding-space near-duplicates collapse to one survivor per duplicate
# component. Pair discovery is the LSH-bucketed cosine pass above (never
# all-pairs), clustering is min-label propagation, and the oracle replays
# both — the SAME bucket CTE as _NEARDUP_LSH_ORACLE plus a recursive
# transitive closure (the dedup_neardup_clusters discipline).
_SEMDEDUP_ORACLE = f"""
    WITH RECURSIVE buckets AS (
      {_BUCKETS}
    ),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.emb AS emb_a, b.emb AS emb_b
        FROM buckets a
        JOIN buckets b ON a.table_idx = b.table_idx AND a.bucket = b.bucket AND a.id < b.id
    ),
    -- MATERIALIZED: edges reads pairs twice and the recursive reach
    -- re-reads edges every round; inlined, each read re-ran the bucket
    -- self-join and cosine scoring
    pairs AS MATERIALIZED (
        SELECT id_a, id_b FROM cand WHERE {_cos_sql('emb_a', 'emb_b')} >= {_NEARDUP_T}
    ),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    ),
    comp AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)
    SELECT cluster AS kept_id, COUNT(*) AS n_members,
           COUNT(*) - 1 AS n_dropped
    FROM comp GROUP BY cluster
"""


@register("emb_semantic_dedup_keep", oracle=S.finite_emb_oracle(_SEMDEDUP_ORACLE))
def emb_semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup decision over the embedding corpus:
    LSH-bucketed cosine near-dup pairs → connected components → keep the
    min-id vector per duplicate component, drop the rest. Output is one
    row per duplicate component: (kept_id, n_members, n_dropped) —
    exactly the survivor manifest a 100 TB training-data pipeline feeds
    into its pruning join (vectors in no component are implicitly kept).
    All stages are bucketed/blocked: the pair graph comes from band-bucket
    equi-joins, the component loop is one shuffle per round with min-label
    propagation, and nothing all-pairs or driver-sized ever materializes."""
    from lithops_dataframe_spark.operators.dedup import connected_components

    emb = _emb(spark, sf_dir)
    pairs = S.cosine_near_dup_pairs(emb, threshold=_NEARDUP_T, use_lsh=True)
    cc = connected_components(pairs)
    return cc.groupBy(F.col("cluster").alias("kept_id")).agg(
        F.count(F.lit(1)).alias("n_members"),
        (F.count(F.lit(1)) - 1).alias("n_dropped"),
    )


_CENTROIDS_ORACLE = """
    SELECT label, (t.i - 1)::INT AS pos,
           ROUND(AVG(embedding[t.i]::DOUBLE), 6) AS m,
           COUNT(*) AS n_vectors
    FROM embeddings, range(1, 65) t(i)
    GROUP BY label, t.i
"""


@register("sim_label_centroids", oracle=S.finite_emb_oracle(_CENTROIDS_ORACLE))
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids, exploded to (label, pos, m) scalar rows for the
    value-hash gate (the array-valued operator is S.label_centroids)."""
    emb = _emb(spark, sf_dir)
    pos = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    return pos.groupBy("label", F.col("pos").cast("int").alias("pos")).agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("m"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


@register("sim_knn_label_vote", oracle=S.finite_emb_oracle(_KNN_VOTE_ORACLE))
def sim_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return S.knn_label_vote(emb, emb.filter(F.col("vec_id") < 20), k=5)


_QUANT_ORACLE = """
    WITH e AS (
        SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS emb
        FROM embeddings
    ),
    rng AS (
        SELECT vec_id, emb,
               list_aggregate(emb, 'min') AS vmin,
               (list_aggregate(emb, 'max') - list_aggregate(emb, 'min')) / 255.0 AS scale
        FROM e
    ),
    q AS (
        SELECT vec_id, vmin, scale,
               list_transform(emb, v -> CASE WHEN scale = 0 THEN 0
                   ELSE least(255, greatest(0, floor((v - vmin) / scale + 0.5)))::BIGINT END) AS codes,
               emb
        FROM rng
    )
    SELECT vec_id,
           ROUND(scale, 8) AS scale,
           list_sum(codes)::BIGINT AS code_sum,
           ROUND(list_sum(list_transform(list_zip(emb, codes),
               p -> (p[1] - (vmin + p[2] * scale)) * (p[1] - (vmin + p[2] * scale)))) / len(emb), 6) AS mse
    FROM q
"""


@register("emb_int8_quantize", oracle=S.finite_emb_oracle(_QUANT_ORACLE))
def emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization (min/max affine, 256 levels):
    the storage form a 100 TB vector corpus actually ships — 4x smaller
    than float32 — plus the reconstruction MSE as the quality audit.

    Pure narrow map (array fold per row, no shuffle, no UDF); the
    quantized codes reduce to a checksum here so the gate hashes scalars.
    Rounding is floor(x + 0.5) on BOTH engines (Spark/DuckDB round()
    disagree on half-even vs half-up ties)."""
    emb = _emb(spark, sf_dir)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = emb.select("vec_id", v.alias("emb"))
    d = d.withColumn("vmin", F.array_min("emb")).withColumn(
        "scale", (F.array_max("emb") - F.col("vmin")) / F.lit(255.0)
    )
    code = lambda x: (
        F.when(F.col("scale") == 0, F.lit(0).cast("long")).otherwise(
            F.least(
                F.lit(255.0),
                F.greatest(F.lit(0.0), F.floor((x - F.col("vmin")) / F.col("scale") + 0.5)),
            ).cast("long")
        )
    )
    d = d.withColumn("codes", F.transform(F.col("emb"), code))
    sq_err = F.zip_with(
        F.col("emb"),
        F.col("codes"),
        lambda v_, q_: (v_ - (F.col("vmin") + q_ * F.col("scale")))
        * (v_ - (F.col("vmin") + q_ * F.col("scale"))),
    )
    # Round `scale` in a SECOND select: aliasing round(scale) back to the
    # name "scale" in the same projection makes Catalyst's collapse resolve
    # the mse/codes subexpressions against the ROUNDED scale — a tiny but
    # real divergence from the oracle's raw-scale arithmetic (caught at
    # sf0.1 where one vector's mse crossed the round-6 boundary).
    out = d.select(
        "vec_id",
        F.col("scale"),
        F.aggregate(F.col("codes"), F.lit(0).cast("long"), lambda a, b: a + b).alias("code_sum"),
        F.round(
            F.aggregate(sq_err, F.lit(0.0), lambda a, b: a + b) / F.size("emb"), 6
        ).alias("mse"),
    )
    return out.select("vec_id", F.round("scale", 8).alias("scale"), "code_sum", "mse")


# ---------------------------------------------------------------------------
# Matryoshka truncation recall (round 6)
# ---------------------------------------------------------------------------
_MRL_DIM = 16


def _dot_sql_dim(a: str, b: str, dim: int) -> str:
    return (
        f"list_sum(list_transform(range(1, {dim + 1}),"
        f" i -> ({a}[i]::DOUBLE * {b}[i]::DOUBLE)))"
    )


def _cos_sql_dim(a: str, b: str, dim: int) -> str:
    return (
        f"({_dot_sql_dim(a, b, dim)} / "
        f"(sqrt({_dot_sql_dim(a, a, dim)}) * sqrt({_dot_sql_dim(b, b, dim)})))"
    )


_MRL_ORACLE = f"""
    WITH full_rk AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY {_cos_sql('q.embedding', 'c.embedding')} DESC,
                            c.vec_id ASC) AS rk
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {_N_QUERIES}
    ),
    full_top AS (SELECT query_id, neighbor_id FROM full_rk WHERE rk <= {_K}),
    tr_rk AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY {_cos_sql_dim('q.embedding', 'c.embedding', _MRL_DIM)} DESC,
                            c.vec_id ASC) AS rk
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {_N_QUERIES}
    ),
    tr_top AS (SELECT query_id, neighbor_id FROM tr_rk WHERE rk <= {_K})
    SELECT f.query_id, COUNT(t.neighbor_id)::BIGINT AS overlap_at_10,
           (COUNT(t.neighbor_id) * 100 // {_K})::BIGINT AS recall_pct
    FROM full_top f
    LEFT JOIN tr_top t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
"""


@register("emb_matryoshka_recall", oracle=S.finite_emb_oracle(_MRL_ORACLE))
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval evaluation: rank the corpus by
    cosine on the FULL 64-dim embedding and again on only its first
    16 dims (the MRL deployment trick — serve a prefix of the vector
    at a fraction of the memory/compute), then report per-query overlap
    of the two top-10 sets — exact recall@10 of the truncated index
    against the full one, the number that decides whether the truncation
    ships.

    Scale shape: both rankings reuse the broadcast-query brute-force
    scorer (corpus scan stays shuffle-free; only scored candidate rows
    move); the overlap join touches Q·k rows. Exactness: cosine ties
    break by neighbor id in both engines, overlap counts are BIGINTs —
    no float tolerance in the output."""
    emb = _emb(spark, sf_dir)
    tr = emb.select(
        "vec_id", F.slice("embedding", 1, _MRL_DIM).alias("embedding")
    )
    full_top = S.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < _N_QUERIES), k=_K
    ).select("query_id", "neighbor_id")
    tr_top = S.brute_force_topk(
        tr, tr.filter(F.col("vec_id") < _N_QUERIES), k=_K
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    joined = full_top.join(tr_top, ["query_id", "neighbor_id"], "left")
    return joined.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("overlap_at_10"),
        F.expr(f"sum(coalesce(hit, 0)) * 100 div {_K}")
        .cast("long")
        .alias("recall_pct"),
    )


# ---------------------------------------------------------------------------
# binary (sign-bit) quantization + Hamming retrieval recall
# ---------------------------------------------------------------------------
def _ham_sql(a: str, b: str) -> str:
    """Hamming distance between the sign patterns of two vectors — the
    oracle twin of the packed-BIGINT XOR+bit_count the engine computes."""
    return (
        f"list_sum(list_transform(range(1, {S.DIM + 1}), "
        f"i -> CASE WHEN ({a}[i] > 0) <> ({b}[i] > 0) THEN 1 ELSE 0 END))"
    )


_BINQ_ORACLE = f"""
    WITH full_rk AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY {_cos_sql('q.embedding', 'c.embedding')} DESC,
                            c.vec_id ASC) AS rk
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {_N_QUERIES}
    ),
    full_top AS (SELECT query_id, neighbor_id FROM full_rk WHERE rk <= {_K}),
    ham_rk AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY {_ham_sql('q.embedding', 'c.embedding')} ASC,
                            c.vec_id ASC) AS rk
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {_N_QUERIES}
    ),
    ham_top AS (SELECT query_id, neighbor_id FROM ham_rk WHERE rk <= {_K})
    SELECT f.query_id, COUNT(h.neighbor_id)::BIGINT AS overlap_at_10,
           (COUNT(h.neighbor_id) * 100 // {_K})::BIGINT AS recall_pct
    FROM full_top f
    LEFT JOIN ham_top h
      ON h.query_id = f.query_id AND h.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
"""


def _sign_words(emb_col: str):
    """Pack the 64 sign bits into two BIGINT words of 32 bits each.

    Two 32-bit words rather than one 64-bit word so no term ever needs
    bit 63 — the packing stays ANSI-safe (no signed-overflow edge) and
    works unchanged for any DIM ≤ 64.
    """
    def word(lo: int, hi: int):
        return F.expr(
            f"aggregate(sequence({lo}, {hi - 1}), CAST(0 AS BIGINT), "
            f"(acc, j) -> acc + CASE WHEN element_at({emb_col}, j + 1) > 0 "
            f"THEN shiftleft(CAST(1 AS BIGINT), j - {lo}) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )

    return word(0, 32), word(32, S.DIM)


@register("emb_binary_quantize_recall", oracle=S.finite_emb_oracle(_BINQ_ORACLE))
def emb_binary_quantize_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign-bit) embedding quantization + Hamming retrieval
    recall: pack each 64-dim float vector into two BIGINT words of sign
    bits (64× memory cut — float32×64 → 16 bytes), rank the corpus by
    Hamming distance on the packed words, and report exact top-10 overlap
    against the full-precision cosine ranking — the recall number that
    decides whether binary serving ships (the BQ trick every vector DB
    offers; cf. reference's similarity surface).

    Scale shape: packing is a narrow per-row map (the corpus scan emits
    16-byte codes, not 256-byte vectors); the Hamming scorer broadcasts
    the Q packed queries so the corpus never shuffles; XOR+bit_count is
    whole-stage-codegen JVM arithmetic, no UDF. Exactness: sign bits and
    Hamming counts are integers; ties break by neighbor id; the recall
    output is all-BIGINT — no float tolerance anywhere."""
    emb = _emb(spark, sf_dir)
    w0, w1 = _sign_words("embedding")
    packed = emb.select("vec_id", w0.alias("w0"), w1.alias("w1"))

    q = packed.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("w0").alias("q0"),
        F.col("w1").alias("q1"),
    )
    scored = (
        packed.withColumnRenamed("vec_id", "neighbor_id")
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("w0").bitwiseXOR(F.col("q0")))
            + F.bit_count(F.col("w1").bitwiseXOR(F.col("q1"))),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    ham_top = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _K)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    full_top = S.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < _N_QUERIES), k=_K
    ).select("query_id", "neighbor_id")
    joined = full_top.join(ham_top, ["query_id", "neighbor_id"], "left")
    return joined.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("overlap_at_10"),
        F.expr(f"sum(coalesce(hit, 0)) * 100 div {_K}")
        .cast("long")
        .alias("recall_pct"),
    )


# ---------------------------------------------------------------------------
# hard-negative mining for contrastive training
# ---------------------------------------------------------------------------
_HARDNEG_K = 5

_HARDNEG_ORACLE = f"""
    WITH rk AS (
        SELECT q.vec_id AS query_id, q.label AS anchor_label,
               c.vec_id AS neighbor_id, c.label AS neg_label,
               ROUND({_cos_sql('q.embedding', 'c.embedding')}, 6) AS sim,
               row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY {_cos_sql('q.embedding', 'c.embedding')} DESC,
                            c.vec_id ASC) AS rank
        FROM embeddings q
        JOIN embeddings c ON c.vec_id <> q.vec_id AND c.label <> q.label
        WHERE q.vec_id < {_N_QUERIES}
    )
    SELECT query_id, anchor_label, neighbor_id, neg_label, sim, rank::INT AS rank
    FROM rk WHERE rank <= {_HARDNEG_K}
"""


@register("emb_hard_negative_mining", oracle=S.finite_emb_oracle(_HARDNEG_ORACLE))
def emb_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the top-k most-similar corpus vectors with a DIFFERENT label — the
    near-miss negatives that make a contrastive batch informative (the
    standard dense-retriever / SimCSE training-data op).

    Scale shape: the anchor set broadcasts; the corpus scan applies the
    label-mismatch filter BEFORE scoring (so same-label rows never pay
    the dot product), is pinned to full parallelism (byte-small vector
    file → one input partition otherwise — the decon r7 lesson), and
    stays shuffle-free; only scored candidates move into the per-anchor
    top-k window. Norms precompute once per row on each side, so each
    surviving pair costs ONE fold (sim = dot/(q_nrm·c_nrm), bit-identical
    to the inline cosine). Exactness: cosine is the shared in-order
    fold, ties break by neighbor id, sim rounded to 6dp on both
    engines."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("q_emb"),
        S.norm(F.col("embedding")).alias("q_nrm"),
    )
    scored = (
        emb.repartition(spark.sparkContext.defaultParallelism)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neg_label"),
            F.col("embedding").alias("c_emb"),
            S.norm(F.col("embedding")).alias("c_nrm"),
        )
        .crossJoin(F.broadcast(q))
        .filter(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("neg_label") != F.col("anchor_label"))
        )
        .withColumn(
            "sim",
            # zero-norm guard (r9 edge sweep): NULL sim, ranked last on
            # both engines (Spark desc / DuckDB are both NULLS LAST)
            F.when(
                F.col("q_nrm") * F.col("c_nrm") > 0,
                S.dot(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_nrm") * F.col("c_nrm")),
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HARDNEG_K)
        .select(
            "query_id",
            "anchor_label",
            "neighbor_id",
            "neg_label",
            F.round("sim", 6).alias("sim"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# semantic decontamination (embedding-space train/test overlap removal)
# ---------------------------------------------------------------------------
_DECON_T = 0.35
_DECON_NTEST = 20  # held-out benchmark set = vec_id < 20

_SEMDECON_ORACLE = f"""
    WITH t AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_DECON_NTEST}
    ),
    c AS (
        SELECT vec_id, label, embedding FROM embeddings
        WHERE vec_id >= {_DECON_NTEST}
    ),
    flags AS (
        SELECT c.vec_id, c.label,
               MAX(CASE WHEN {_cos_sql('q.embedding', 'c.embedding')}
                        >= {_DECON_T} THEN 1 ELSE 0 END) AS removed
        FROM c CROSS JOIN t q
        GROUP BY c.vec_id, c.label
    )
    SELECT label,
           COUNT(*)::BIGINT AS n_total,
           SUM(removed)::BIGINT AS n_removed,
           (COUNT(*) - SUM(removed))::BIGINT AS n_kept
    FROM flags GROUP BY label
"""


@register("decontaminate_semantic", oracle=S.finite_emb_oracle(_SEMDECON_ORACLE))
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination: drop every training vector whose cosine
    to ANY held-out benchmark vector reaches the contamination threshold
    — the embedding-space analogue of n-gram decontamination (used when
    paraphrased eval leakage survives exact-match filters), reported as
    per-label kept/removed counts.

    Scale shape: the benchmark set is bounded and broadcasts; the
    corpus×test cosine work runs in ONE short-circuiting broadcast
    left-semi pass (a row is emitted on its FIRST contaminating match —
    no pair set is ever materialized or shuffled). Per-label totals come
    from a cosine-free count aggregate over the corpus and
    ``n_kept = n_total − n_removed`` (VERDICT r6: the previous semi+anti
    formulation evaluated every corpus-vs-test cosine twice — the
    highest exponent in the r6 scale curve). Exactness: cosine is the
    shared in-order fold on identical doubles, so the >= threshold
    verdict is bit-identical in both engines; outputs are BIGINT
    counts."""
    emb = _emb(spark, sf_dir)
    # Norms precompute ONCE PER ROW on each side (same in-order fold the
    # inline cosine would run, so sim = dot/(q_nrm·e_nrm) is bit-identical
    # to S.cosine); the nested-loop condition then evaluates one
    # 64-element fold per pair instead of three — measured 3x on the
    # verification pass, the with_unit() lesson applied to a broadcast
    # semi join.
    test = emb.filter(F.col("vec_id") < _DECON_NTEST).select(
        F.col("embedding").alias("q_emb"),
        S.norm(F.col("embedding")).alias("q_nrm"),
    )
    corpus = emb.filter(F.col("vec_id") >= _DECON_NTEST)
    totals = corpus.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    # The cosine pass is CPU-bound but the vector file is byte-small, so
    # the scan otherwise lands in ONE input partition (measured: the
    # whole corpus×test verification ran single-task — the scan-side
    # sibling of the AQE verify-coalesce trap). Pin it at full
    # parallelism; the round-robin exchange moves only the byte-small
    # vectors once and the broadcast semi then runs on every core.
    par = corpus.repartition(
        spark.sparkContext.defaultParallelism
    ).withColumn("e_nrm", S.norm(F.col("embedding")))
    cond = (
        # zero-norm guard (r9): NULL cosine fails the >= predicate on
        # both engines, so an undefined-similarity row never matches
        F.when(
            F.col("q_nrm") * F.col("e_nrm") > 0,
            S.dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_nrm") * F.col("e_nrm")),
        )
        >= _DECON_T
    )
    removed = (
        par.join(F.broadcast(test), cond, "left_semi")
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rm"))
    )
    return totals.join(F.broadcast(removed), "label", "left").select(
        "label",
        "n_total",
        F.coalesce(F.col("n_rm"), F.lit(0)).cast("long").alias("n_removed"),
        (F.col("n_total") - F.coalesce(F.col("n_rm"), F.lit(0)))
        .cast("long")
        .alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# embedding-table quality audit (dq for vector columns)
# ---------------------------------------------------------------------------
_EMB_AUDIT_ORACLE = f"""
    WITH e AS (
        SELECT label, len(embedding)::BIGINT AS dim,
               sqrt({_dot_sql('embedding', 'embedding')}) AS nrm,
               list_sum(list_transform(range(1, {S.DIM + 1}),
                        i -> CASE WHEN embedding[i] = 0 THEN 1 ELSE 0 END))
                   AS n_zero_comp,
               list_sum(list_transform(range(1, {S.DIM + 1}),
                        i -> CASE WHEN isnan(embedding[i]) THEN 1 ELSE 0 END))
                   AS n_nan_comp
        FROM embeddings
    )
    SELECT label,
           COUNT(*)::BIGINT AS n_vectors,
           SUM(CASE WHEN dim <> {S.DIM} THEN 1 ELSE 0 END)::BIGINT AS n_bad_dim,
           SUM(CASE WHEN n_nan_comp > 0 THEN 1 ELSE 0 END)::BIGINT AS n_with_nan,
           SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero_norm,
           SUM(n_zero_comp)::BIGINT AS total_zero_components,
           ROUND(MIN(nrm), 6) AS min_norm,
           ROUND(MAX(nrm), 6) AS max_norm
    FROM e GROUP BY label
"""


@register("emb_table_audit", oracle=_EMB_AUDIT_ORACLE)
def emb_table_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table quality audit: per label, the vector-column
    constraint report (wrong dimensionality, NaN components, zero-norm
    vectors — each one poisons a cosine index silently — plus sparsity
    and the norm envelope). This is the dq_constraint_suite shape applied
    to the vector payload, the gate an embedding pipeline runs before
    (re)building an ANN index.

    Scale shape: one narrow per-row fold (JVM higher-order functions, no
    UDF) + one hash aggregate. Counts are BIGINTs; min/max norms pick
    identical fold-computed doubles (rounded 6dp for display, never
    re-summed). Reads RAW rows (_emb_raw, not the hygiene-gated _emb) —
    the audit is the detector the r12 finite-vector gate answers to; it
    must see and count the corrupt vectors the ops exclude."""
    emb = _emb_raw(spark, sf_dir)
    dim = F.size("embedding").cast("long")
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    n_zero_comp = F.aggregate(
        F.col("embedding"),
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.when(x == 0, 1).otherwise(0).cast("long"),
    )
    n_nan_comp = F.aggregate(
        F.col("embedding"),
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.when(F.isnan(x), 1).otherwise(0).cast("long"),
    )
    e = emb.select(
        "label",
        dim.alias("dim"),
        nrm.alias("nrm"),
        n_zero_comp.alias("n_zero_comp"),
        n_nan_comp.alias("n_nan_comp"),
    )
    return e.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum((F.col("dim") != S.DIM).cast("int")).cast("long").alias("n_bad_dim"),
        F.sum((F.col("n_nan_comp") > 0).cast("int")).cast("long").alias("n_with_nan"),
        F.sum((F.col("nrm") == 0).cast("int")).cast("long").alias("n_zero_norm"),
        F.sum("n_zero_comp").cast("long").alias("total_zero_components"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
    )
