"""Round-9 addition operators: weighted reservoir (A-ES), two-phase global
row_number, serpentine shard balance, Bradley–Terry MM, CUSUM change-point.

Differential style: each Spark operator is checked against an independent
pure-Python/numpy replay of the same recipe (not against the DuckDB oracle
— the driver gate already does that), plus the empty/degenerate guards."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from lithops_dataframe_spark import cache
from lithops_dataframe_spark.operators.sampling import weighted_reservoir_sample
from lithops_dataframe_spark.operators.util import prefix_sums

from tests.conftest import running_sums

SF_DIR = "/root/testdata/sf0.001"


def _md5_u52(x: int) -> float:
    h = int(hashlib.md5(str(x).encode()).hexdigest()[:13], 16)
    return (h + 1) / float(1 << 52)


def test_reservoir_matches_python_replay(spark):
    rows = [(i, (i * 37) % 100 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, w long")
    got = {
        r["id"]: r["res_key"]
        for r in weighted_reservoir_sample(df, "w", "id", k=50).collect()
    }
    keys = sorted(
        (round(-math.log(_md5_u52(i)) / w, 9), i) for i, w in rows
    )
    want = {i: k for k, i in keys[:50]}
    assert got == want


def test_reservoir_excludes_nonpositive_and_null_weights(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, 0), (3, -5), (4, None), (5, 3)], "id long, w long"
    )
    ids = {r["id"] for r in weighted_reservoir_sample(df, "w", "id", k=10).collect()}
    assert ids == {1, 5}


def test_reservoir_k_larger_than_input(spark):
    df = spark.createDataFrame([(1, 2), (2, 3)], "id long, w long")
    assert weighted_reservoir_sample(df, "w", "id", k=100).count() == 2


def test_reservoir_empty_input(spark):
    df = spark.createDataFrame([], "id long, w long")
    assert weighted_reservoir_sample(df, "w", "id", k=10).count() == 0


def test_reservoir_weight_bias(spark):
    """Inclusion probability must grow with weight: one heavy id against
    many light ones should essentially always be sampled (deterministic
    given the hash constants, but the value asserts the A-ES key does
    weight the draw, not just hash order)."""
    rows = [(i, 1) for i in range(1, 400)] + [(1000, 100_000)]
    df = spark.createDataFrame(rows, "id long, w long")
    ids = {r["id"] for r in weighted_reservoir_sample(df, "w", "id", k=40).collect()}
    assert 1000 in ids


def test_prefix_sums_exact(spark):
    """Heavy ties on a DESC key over more than 3 range partitions; a
    running sum of w next to the row count, where w is NULL on the
    leading keys (a NULL-only prefix stays NULL) and scattered after;
    ungrouped and grouped (a NULL group included); an empty frame."""
    keys = [(i * 17) % 50 for i in range(300)]
    rows = [
        (k, i, None if k >= 45 or i % 7 == 0 else i % 5, i % 4 or None)
        for i, k in enumerate(keys)
    ]
    df = spark.createDataFrame(rows, "k long, id long, w long, g long")
    for group_cols in ((), ("g",)):
        with cache.scope():
            out = prefix_sums(
                df,
                [F.col("k").desc(), F.col("id").asc()],
                {"rn": F.lit(1), "cw": F.col("w")},
                group_cols=group_cols,
            )
            got = {r["id"]: (r["rn"], r["cw"]) for r in out.collect()}
            assert cache._LIVE[-1].select("__pid").distinct().count() > 3

        def group(r, grouped=bool(group_cols)):
            return r[3] if grouped else None

        def order(r):
            return (-r[0], r[1])

        rn = running_sums(rows, group, order, lambda r: 1)
        cw = running_sums(rows, group, order, lambda r: r[2])
        assert got == {r[1]: (rn[r], cw[r]) for r in rows}
        assert got[47] == (1, None)  # id 47 leads (k=49): a NULL-only prefix

    with cache.scope():
        empty = prefix_sums(
            spark.createDataFrame([], "k long, w long"), ["k"], {"cw": F.col("w")}
        )
        assert empty.columns == ["k", "w", "cw"] and empty.collect() == []


def test_balanced_shards_skew_bound(spark):
    """Serpentine dealing over the size-ranked order keeps shard token
    mass within one max-document of each other when n is a multiple of
    2·S (every serpentine round adds a bounded-difference pair); on the
    real fixture just assert the spread is far below hash-sharding's."""
    from lithops_dataframe_spark.plans.traindata_q import pack_balanced_shards

    out = pack_balanced_shards(spark, SF_DIR).collect()
    toks = [r["shard_tokens"] for r in out]
    maxdoc = max(r["max_doc_tokens"] for r in out)
    assert len(out) == 8
    assert max(toks) - min(toks) <= maxdoc, (max(toks), min(toks), maxdoc)


def test_bradley_terry_orders_dominance(spark):
    """A ≻ B ≻ C with clean dominance must come out ordered in score;
    replayed in pure Python the scores must agree to the rounding grid."""
    from lithops_dataframe_spark.plans.recsys_q import _BT_ITERS

    duels = {("A", "B"): 10, ("B", "C"): 10, ("A", "C"): 5, ("C", "A"): 1}
    # python MM replay
    brands = sorted({b for k in duels for b in k})
    games: dict[tuple[str, str], int] = {}
    wins = {b: 0 for b in brands}
    for (w, l), n in duels.items():
        games[(w, l)] = games.get((w, l), 0) + n
        games[(l, w)] = games.get((l, w), 0) + n
        wins[w] += n
    p = {b: 1.0 for b in brands}
    for _ in range(_BT_ITERS):
        den = {
            b: sum(
                g / (p[b] + p[j])
                for (i, j), g in games.items()
                if i == b and p[b] + p[j] > 0
            )
            for b in brands
        }
        p = {
            b: (0.0 if wins[b] == 0 or den[b] <= 0 else wins[b] / den[b])
            for b in brands
        }
    assert p["A"] > p["B"] > p["C"]

    # spark replay of the same MM loop over an explicit duel frame
    rows = [(w, l, n) for (w, l), n in duels.items()]
    d = spark.createDataFrame(rows, "brand_w string, brand_l string, n long")
    g = (
        d.select(F.col("brand_w").alias("i"), F.col("brand_l").alias("j"), "n")
        .unionByName(
            d.select(F.col("brand_l").alias("i"), F.col("brand_w").alias("j"), "n")
        )
        .groupBy("i", "j")
        .agg(F.sum("n").alias("g"))
    )
    wdf = (
        g.groupBy("i")
        .agg(F.sum("g").alias("games"))
        .join(
            d.groupBy("brand_w").agg(F.sum("n").alias("w")),
            F.col("i") == F.col("brand_w"),
            "left",
        )
        .select(
            F.col("i").alias("brand"),
            F.coalesce("w", F.lit(0)).alias("wins"),
        )
    )
    pdf = wdf.select("brand", F.lit(1.0).alias("p"))
    for _ in range(_BT_ITERS):
        pi = pdf.select(F.col("brand").alias("i"), F.col("p").alias("p_i"))
        pj = pdf.select(F.col("brand").alias("j"), F.col("p").alias("p_j"))
        den = (
            g.join(pi, "i")
            .join(pj, "j")
            .groupBy("i")
            .agg(
                F.sum(
                    F.when(
                        F.col("p_i") + F.col("p_j") > 0,
                        F.col("g") / (F.col("p_i") + F.col("p_j")),
                    ).otherwise(F.lit(0.0))
                ).alias("den")
            )
        )
        pdf = wdf.join(den, wdf["brand"] == den["i"]).select(
            "brand",
            F.when((F.col("wins") == 0) | (F.col("den") <= 0), F.lit(0.0))
            .otherwise(F.col("wins").cast("double") / F.col("den"))
            .alias("p"),
        )
    got = {r["brand"]: round(r["p"], 6) for r in pdf.collect()}
    assert got == {b: round(v, 6) for b, v in p.items()}


def test_cusum_finds_planted_level_shift(spark, tmp_path):
    """A series flat at 100 cents/day for 10 days then 200 for 10 days
    must localize the change at the shift boundary (CUSUM peaks on the
    last pre-shift day)."""
    import datetime as dt

    from lithops_dataframe_spark.plans.funnel_q import events_changepoint_cusum

    rows = []
    for i in range(20):
        val = 1.0 if i < 10 else 2.0
        rows.append(
            (i, dt.datetime(2024, 1, 1) + dt.timedelta(days=i), 7, "shift", val, None)
        )
    # second series with no ts/value noise rows: must not crash, must
    # still appear with a well-defined argmax
    rows.append((100, None, 8, "nullish", 5.0, None))
    rows.append((101, dt.datetime(2024, 2, 1), 8, "nullish", None, None))
    rows.append((102, dt.datetime(2024, 2, 2), 8, "nullish", 3.0, None))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    d = str(tmp_path / "sf")
    df.write.parquet(d + "/events.parquet")
    out = {r["event_type"]: r for r in events_changepoint_cusum(spark, d).collect()}
    shift = out["shift"]
    assert shift["n_days"] == 20
    assert shift["change_day"] == dt.datetime(2024, 1, 10)  # last pre-shift day
    nullish = out["nullish"]
    assert nullish["n_days"] == 1  # NULL ts and NULL value rows excluded


def test_streaming_reservoir_equals_batch(spark, tmp_path):
    """Cross-batch continuity: merging per-batch top-k snapshots must
    reproduce the BATCH reservoir over the union — driven step-by-step
    (no stream machinery) so the state contract itself is what's
    tested, including a retried epoch (exactly-once by snapshot
    re-derivation)."""
    from lithops_dataframe_spark.streaming.reservoir import (
        _read_latest_state,
        _state_schema,
        reservoir_batch_step,
    )

    rows = [(i, (i * 13) % 50 + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, w long")
    state = str(tmp_path / "state")
    for e, lo, hi in ((0, 0, 100), (1, 100, 200), (2, 200, 300)):
        batch = df.filter((F.col("id") >= lo) & (F.col("id") < hi))
        reservoir_batch_step(
            batch, e, state, weight_col="w", id_col="id", k=25, extra={}
        )
    # retry epoch 1 mid-history: snapshot is re-derived from epoch 0,
    # later state must be unaffected (epoch 2 already superseded it)
    reservoir_batch_step(
        df.filter((F.col("id") >= 100) & (F.col("id") < 200)),
        1,
        state,
        weight_col="w",
        id_col="id",
        k=25,
        extra={},
    )
    final = {
        (r["id"], r["res_key"])
        for r in _read_latest_state(spark, state, 10**9, _state_schema({})).collect()
    }
    want = {
        (r["id"], r["res_key"])
        for r in weighted_reservoir_sample(df, "w", "id", k=25).collect()
    }
    assert final == want and len(final) == 25


def test_ngram_novelty_small_example(spark, tmp_path):
    """Hand-checked: doc 1 owns its trigrams, an exact dup scores 0,
    a half-overlapping doc scores the new-half share, a two-word doc
    has no trigrams and a NULL ratio."""
    from lithops_dataframe_spark.plans.text_q import text_ngram_novelty

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "en", "s", 7),     # grams: abc, bcd -> both novel
            (2, "a b c d", "en", "s", 7),     # exact dup -> 0/2
            (3, "c d e f g", "en", "s", 9),   # cde, def, efg -> 3 novel, bcd? no: grams cde def efg
            (4, "x y", "en", "s", 3),         # too short -> 0 grams
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "sf")
    docs.write.parquet(d + "/documents.parquet")
    out = {r["doc_id"]: r for r in text_ngram_novelty(spark, d).collect()}
    assert (out[1]["n_grams"], out[1]["n_novel"]) == (2, 2)
    assert (out[2]["n_grams"], out[2]["n_novel"]) == (2, 0)
    assert (out[3]["n_grams"], out[3]["n_novel"]) == (3, 3)
    assert out[4]["n_grams"] == 0 and out[4]["novelty_permille"] is None
    assert out[1]["novelty_permille"] == 1000 and out[2]["novelty_permille"] == 0


def test_ks_drift_step_contracts(spark, tmp_path):
    """Step-driven streaming drift: an identical batch scores KS 0, a
    shifted batch scores high, an EMPTY epoch still emits every
    reference group with n_b=0, and a retried epoch overwrites itself
    idempotently."""
    from lithops_dataframe_spark.streaming.drift import ks_drift_batch_step

    ref = spark.createDataFrame(
        [("a", float(v)) for v in range(10)] + [("b", float(v)) for v in range(5)],
        "event_type string, v double",
    )
    rp = str(tmp_path / "ref")
    ref.write.parquet(rp)
    dec = str(tmp_path / "dec")

    same = spark.createDataFrame(
        [("a", float(v)) for v in range(10)], "event_type string, v double"
    )
    ks_drift_batch_step(same, 0, rp, dec, group_col="event_type", value_col="v")
    shifted = spark.createDataFrame(
        [("a", float(v + 100)) for v in range(10)], "event_type string, v double"
    )
    ks_drift_batch_step(shifted, 1, rp, dec, group_col="event_type", value_col="v")
    empty = spark.createDataFrame([], "event_type string, v double")
    ks_drift_batch_step(empty, 2, rp, dec, group_col="event_type", value_col="v")
    # retry epoch 1: must overwrite, not duplicate
    ks_drift_batch_step(shifted, 1, rp, dec, group_col="event_type", value_col="v")

    rows = {
        (r["epoch"], r["event_type"]): r
        for r in spark.read.parquet(dec).collect()
    }
    assert rows[(0, "a")]["ks_micros"] == 0
    assert rows[(1, "a")]["ks_micros"] == 1_000_000  # disjoint supports
    assert rows[(2, "a")]["n_b"] == 0 and rows[(2, "b")]["n_b"] == 0
    assert len([k for k in rows if k[0] == 1]) == 2  # no duplicated epoch rows


def test_traindata_manifest_hand_example(spark, tmp_path):
    """Hand-checked five-stage composition: a low-quality doc fails the
    gate, an exact dup collapses, quotas split the budget by floor-sqrt
    weights, and packing is ceil(sel_tokens/256)."""
    from lithops_dataframe_spark.plans.pipeline_q import (
        pipeline_traindata_manifest,
    )

    docs = []
    # source A: 3 quality docs (10 distinct tokens each), one exact dup
    for i in range(3):
        docs.append((i, " ".join(f"a{i}t{j}" for j in range(10)), "en", "A", 60))
    docs.append((3, docs[0][1], "en", "A", 60))  # dup of doc 0
    # source B: one quality doc + one low-quality (repeated token)
    docs.append((10, " ".join(f"bt{j}" for j in range(10)), "en", "B", 60))
    docs.append((11, "rep rep rep rep rep rep", "en", "B", 30))
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "sf")
    df.write.parquet(d + "/documents.parquet")
    out = {r["source"]: r for r in pipeline_traindata_manifest(spark, d).collect()}
    a, b = out["A"], out["B"]
    assert (a["n_raw"], a["n_quality"], a["n_unique"]) == (4, 4, 3)
    assert (b["n_raw"], b["n_quality"], b["n_unique"]) == (2, 1, 1)
    # weights: w_A=floor(sqrt(3))=1, w_B=1, tw=2 -> k = min(n_u, 60*1//2=30)
    assert (a["quota"], b["quota"]) == (3, 1)
    assert (a["n_selected"], b["n_selected"]) == (3, 1)
    assert a["sel_tokens"] == 30 and b["sel_tokens"] == 10
    assert a["n_packs"] == 1 and b["n_packs"] == 1
