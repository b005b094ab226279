"""Multimodal queries — the mapInPandas operators in operators/multimodal.py
cross-checked against DuckDB twins computed from the same payload bytes.

Because the fake decode is a pure function of md5(payload) and the payload
is the UTF-8 encoding of ASCII document text, DuckDB's VARCHAR md5
reproduces Python hashlib's digest exactly — so the Arrow/mapInPandas
plumbing (binary columns in, typed batches out, row explosion) is verified
by value hash, not merely smoke-tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lithops_dataframe_spark import cache
from lithops_dataframe_spark.catalog import load_table
from lithops_dataframe_spark.operators import multimodal as M
from lithops_dataframe_spark.operators.util import values_frame
from lithops_dataframe_spark.plans.registry import register

# media_type by the NON-NEGATIVE residue of doc_id mod 3 (matches the
# engine's F.pmod — DuckDB % follows the dividend's sign; r11 edge row).
_MT = "(CASE (((doc_id % 3) + 3) % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END)"
_W = "(16 + ('0x' || substr(md5(text), 1, 4))::BIGINT % 1024)"
_H = "(16 + ('0x' || substr(md5(text), 5, 4))::BIGINT % 1024)"
_D = "(('0x' || substr(md5(text), 9, 5))::BIGINT % 600000)"

_DECODE_ORACLE = f"""
    SELECT doc_id,
           {_MT} AS media_type,
           (CASE WHEN {_MT} IN ('image','video') THEN {_W} END)::INT AS width,
           (CASE WHEN {_MT} IN ('image','video') THEN {_H} END)::INT AS height,
           (CASE WHEN {_MT} IN ('audio','video') THEN {_D} END)::INT AS duration_ms,
           octet_length(encode(text))::BIGINT AS n_bytes
    FROM documents WHERE text IS NOT NULL
"""

_FEATURES_ORACLE = "SELECT doc_id, " + ", ".join(
    f"ROUND((('0x' || substr(md5(text), {4 * i + 1}, 4))::BIGINT)::DOUBLE / 65535, 6) AS f{i}"
    for i in range(M.FEATURE_DIM)
) + " FROM documents WHERE text IS NOT NULL"

_RESIZE_ORACLE = f"""
    WITH img AS (
        SELECT doc_id, {_W} AS w, {_H} AS h FROM documents
        WHERE (((doc_id % 3) + 3) % 3) = 0 AND text IS NOT NULL
    ),
    halved AS (
        -- steps = min s with m // 2^s <= 128, i.e. m <= 129 * 2^s - 1;
        -- fixture dims are 16..1039 so at most 4 halvings
        SELECT doc_id, w, h,
               CASE WHEN greatest(w, h) <= 128 THEN 0
                    WHEN greatest(w, h) <= 257 THEN 1
                    WHEN greatest(w, h) <= 515 THEN 2
                    WHEN greatest(w, h) <= 1031 THEN 3
                    ELSE 4 END AS steps
        FROM img
    )
    SELECT doc_id, w::INT AS width, h::INT AS height,
           greatest(1, w // (1 << steps))::INT AS out_width,
           greatest(1, h // (1 << steps))::INT AS out_height
    FROM halved
"""

_FRAMES_ORACLE = f"""
    WITH v AS (
        SELECT doc_id, text FROM documents
        WHERE (((doc_id % 3) + 3) % 3) = 2 AND text IS NOT NULL
    ),
    f AS (
        SELECT doc_id, text,
               unnest(range((length(text) + {M.FRAME_CHARS - 1}) // {M.FRAME_CHARS})) AS i
        FROM v
    )
    SELECT doc_id,
           i::INT AS frame_idx,
           length(substr(text, (i * {M.FRAME_CHARS} + 1)::INT, {M.FRAME_CHARS}))::INT AS frame_chars,
           md5(substr(text, (i * {M.FRAME_CHARS} + 1)::INT, {M.FRAME_CHARS})) AS frame_md5
    FROM f
"""


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.media_table(load_table(spark, sf_dir, "documents"))


@register("mm_decode_media", oracle=_DECODE_ORACLE)
def mm_decode_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.decode_media(_media(spark, sf_dir))


@register("mm_media_features", oracle=_FEATURES_ORACLE)
def mm_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.media_features(_media(spark, sf_dir))


@register("mm_resize_images", oracle=_RESIZE_ORACLE)
def mm_resize_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.resize_images(_media(spark, sf_dir), max_side=128)


@register("mm_frame_sample", oracle=_FRAMES_ORACLE)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.frame_sample(_media(spark, sf_dir))


_BINARYFILE_ORACLE = """
    SELECT doc_id,
           octet_length(encode(text))::BIGINT AS n_bytes,
           md5(text) AS payload_md5
    FROM (
        -- writer's key-collision policy: one object per doc_id, smallest
        -- payload kept (min over UTF-8 text == min over bytes)
        SELECT doc_id, min(text) AS text
        FROM documents
        WHERE doc_id < 300 AND octet_length(encode(text)) > 0
        GROUP BY doc_id
    )
"""


@register("mm_binaryfile_source", oracle=_BINARYFILE_ORACLE)
def mm_binaryfile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real media-lake ingest path: payloads written executor-side as
    one ``<doc_id>.bin`` object each, read back through
    ``spark.read.format("binaryFile")`` (path/length/content rows), id
    recovered from the object path, content integrity proven by md5
    against the source text (payload bytes are UTF-8 of ASCII text, so
    DuckDB's VARCHAR md5 is bit-identical).

    Zero-byte payloads are excluded from the roundtrip contract on both
    sides (r9 edge sweep): Spark's binaryFile source generates no split —
    hence no row — for a zero-length object, so an empty document would
    silently vanish between writer and reader. Empty assets stay
    metadata-only rows in the media table; the explicit filter makes the
    contract visible instead of fixture-dependent."""
    media = M.media_table(
        load_table(spark, sf_dir, "documents").filter(
            (F.col("doc_id") < 300) & (F.length("text") > 0)
        )
    )
    out = cache.scratch("binfiles")
    M.write_payload_files(media, out)
    files = M.read_binary_files(spark, out, pattern="*.bin")
    return files.select(
        # -? in the id capture: a NEGATIVE doc_id's "-6.bin" previously
        # extracted "6", silently re-keying the object (r11 edge row)
        F.regexp_extract(F.col("path"), r"(-?\d+)\.bin$", 1).cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("payload_md5"),
    )


# Planted near-identical payloads (VERDICT_r02 task 3): the fixture corpus
# has no byte-level near-identical image payloads, so the driver row used
# to compare 0 rows to 0 rows — a vacuous green. These three rows (two
# identical, one tail-corrupted) guarantee >= 2 real pairs flow through
# the hash gate on BOTH engines. Ids are multiples of 3 (image slot, far
# above any fixture doc_id).
_PLANT_BASE = "the quick brown fox jumps over the lazy dog " * 8
_PLANTED: list[tuple[int, str]] = [
    (9000000, _PLANT_BASE),
    (9000003, _PLANT_BASE),
    (9000006, _PLANT_BASE[:-6] + "dogggg"),
]

_PLANT_SQL = "\n        UNION ALL ".join(
    f"SELECT {i} AS doc_id, upper(hex(encode('{t}'))) AS hx" for i, t in _PLANTED
)

_PHASH_ORACLE = f"""
    WITH img AS (
        SELECT doc_id, upper(hex(encode(text))) AS hx
        FROM documents WHERE (((doc_id % 3) + 3) % 3) = 0 AND text IS NOT NULL
        UNION ALL {_PLANT_SQL}
    ),
    v AS (
        SELECT doc_id,
               list_transform(range(0, {M.PHASH_BITS}),
                   i -> ('0x' || substr(hx, (1 + ((i * len(hx)) // {M.PHASH_BITS}))::INT, 1))::INT) AS vs
        FROM img
    ),
    m AS (SELECT doc_id, vs, list_sum(vs) / {float(M.PHASH_BITS)} AS mean FROM v),
    b AS (
        SELECT doc_id,
               list_transform(range(0, {M.PHASH_BLOCKS}),
                   k -> list_sum(list_transform(range(0, {M.PHASH_BLOCK_BITS}),
                       j -> CASE WHEN vs[(k * {M.PHASH_BLOCK_BITS} + j + 1)::INT] > mean
                                 THEN (1 << j) ELSE 0 END))::INT) AS blocks
        FROM m
    ),
    post AS (
        SELECT doc_id, t.k, blocks[(t.k + 1)::INT] AS blk
        FROM b, unnest(range(0, {M.PHASH_BLOCKS})) AS t(k)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        FROM post a JOIN post c ON a.k = c.k AND a.blk = c.blk AND a.doc_id < c.doc_id
    ),
    h AS (
        SELECT id_a, id_b,
               list_sum(list_transform(range(0, {M.PHASH_BLOCKS}),
                   k -> bit_count(xor(ba.blocks[(k + 1)::INT]::BIGINT,
                                      bb.blocks[(k + 1)::INT]::BIGINT)))) AS ham
        FROM cand JOIN b ba ON ba.doc_id = cand.id_a JOIN b bb ON bb.doc_id = cand.id_b
    )
    SELECT id_a, id_b, ham::INT AS hamming FROM h WHERE ham <= {M.PHASH_HAM_T}
"""


@register("mm_phash_neardup", oracle=_PHASH_ORACLE)
def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs by perceptual hash (aHash, 64-bit, pigeonhole
    block join + exact hamming re-rank) — the image-side analog of SimHash
    text dedup; swap the sampled stream for decoded pixels in a
    real-decoder deployment. The fixture corpus is unioned with three
    planted near-identical payloads (see _PLANTED) so the driver's value
    hash covers real pairs, not an empty result."""
    media = _media(spark, sf_dir).select("doc_id", "media_type", "payload")
    planted = values_frame(
        spark,
        [(i, "image", bytearray(t.encode("utf-8"))) for i, t in _PLANTED],
        "doc_id long, media_type string, payload binary",
    )
    return M.phash_neardup_pairs(media.unionAll(planted))
