"""Differential tests for the LDFrame pandas-parity veneer (SURVEY §2.4/2.9):
every reduction against the pandas oracle (the reference's implicit oracle —
each operator there calls the same-named pandas method per chunk), including
the skipna/min_count/ddof corners and edge frames the fixtures under-sample
(all-null columns, single row, negative values).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from lithops_dataframe_spark.frame import LDFrame

EDGE = pd.DataFrame(
    {
        "a": [1.0, None, 3.0, -4.5, 2.5],
        "b": [float("nan")] * 5,
        "c": [2, 0, 7, 1, 9],
        "d": [True, False, True, True, False],
    }
)


@pytest.fixture(scope="module")
def ldf(spark):
    # explicit schema: the all-null column b must be double, not void
    return LDFrame(
        spark.createDataFrame(EDGE, schema="a double, b double, c long, d boolean").repartition(3)
    )


def _one_row(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0].asDict()


def _close(a, b):
    if a is None and (b is None or (isinstance(b, float) and math.isnan(b))):
        return True
    if b is None or (isinstance(b, float) and math.isnan(b)):
        return a is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


@pytest.mark.parametrize("skipna", [True, False])
@pytest.mark.parametrize("op", ["sum", "min", "max", "mean", "std", "prod"])
def test_reduction_axis0_matches_pandas(ldf, op, skipna):
    got = _one_row(getattr(ldf, op)(axis=0, skipna=skipna))
    exp = getattr(EDGE[["a", "b", "c"]], op)(axis=0, skipna=skipna)
    for c in ("a", "b", "c"):
        e = exp[c]
        e = None if (isinstance(e, float) and math.isnan(e)) else e
        # pandas sum/prod over all-NaN with skipna=True give 0/1 identity;
        # SQL aggregates give NULL. Pin the SQL convention for column b.
        if c == "b" and skipna and op in ("sum", "prod"):
            assert got[c] is None
            continue
        assert _close(got[c], e), f"{op} skipna={skipna} col={c}: {got[c]} != {e}"


def test_sum_min_count(ldf):
    got = _one_row(ldf.sum(axis=0, min_count=5))
    # a has 4 non-null < 5 → null; c has 5 → 14.5 equivalent sum
    assert got["a"] is None
    assert _close(got["c"], 19)
    got2 = _one_row(ldf.sum(axis=0, min_count=4))
    assert _close(got2["a"], 2.0)


@pytest.mark.parametrize("ddof", [0, 1, 2])
def test_std_ddof(ldf, ddof):
    got = _one_row(ldf.std(axis=0, ddof=ddof))
    exp = EDGE[["a", "b", "c"]].std(axis=0, ddof=ddof)
    for c in ("a", "c"):
        assert _close(got[c], exp[c]), f"ddof={ddof} col={c}: {got[c]} != {exp[c]}"


def test_count_axis0(ldf):
    got = _one_row(ldf.count(axis=0))
    assert got == {"a": 4, "b": 0, "c": 5, "d": 5}


def test_rowwise_sum_mean(ldf):
    got = sorted(r["sum"] for r in ldf.sum(axis=1).collect())
    exp = sorted(EDGE[["a", "b", "c"]].sum(axis=1, skipna=True))
    assert all(_close(g, e) for g, e in zip(got, exp))
    gotm = sorted(r["mean"] for r in ldf.mean(axis=1).collect())
    expm = sorted(EDGE[["a", "b", "c"]].mean(axis=1, skipna=True))
    assert all(_close(g, e) for g, e in zip(gotm, expm))


def test_all_any(ldf):
    got = _one_row(ldf.all(axis=0))
    exp = EDGE[["a", "b", "c", "d"]].all(axis=0, skipna=True)
    assert got["d"] == bool(exp["d"])
    assert got["c"] == bool(exp["c"])  # c contains 0 → False
    gota = _one_row(ldf.any(axis=0))
    assert gota["d"] is True and gota["b"] is False


def test_apply_rowwise(ldf, spark):
    out = (
        ldf.apply(lambda r: (r["c"] or 0) * 2, axis=1, meta="c2 long")
        .spark.collect()
    )
    assert sorted(r["c2"] for r in out) == sorted(int(c) * 2 for c in EDGE["c"])


def test_apply_axis0_rejected(ldf):
    with pytest.raises(NotImplementedError):
        ldf.apply(lambda r: r, axis=0, meta="x long")


def test_map_partitions_partition_info(ldf):
    out = ldf.map_partitions(
        lambda pdf, partition_info=None: pd.DataFrame(
            {"n": [len(pdf)], "pid": [partition_info["number"]]}
        ),
        meta="n long, pid int",
        partition_info=True,
    ).spark.collect()
    assert sum(r["n"] for r in out) == len(EDGE)
    assert len({r["pid"] for r in out}) == len(out)


def test_generic_reduction(ldf):
    out = ldf.reduction(
        chunk=lambda pdf: pd.DataFrame({"s": [pdf["c"].sum()], "n": [len(pdf)]}),
        aggregate=lambda pdf: pd.DataFrame(
            {"total": [int(pdf["s"].sum())], "rows": [int(pdf["n"].sum())]}
        ),
        meta="total long, rows long",
        chunk_meta="s long, n long",
    ).collect()
    assert out[0]["total"] == int(EDGE["c"].sum()) and out[0]["rows"] == len(EDGE)


def test_reduction_combine_tree(spark):
    """combine/split_every (reference core.py:15-144): partials flow
    through tree levels of `combine` before the final `aggregate`; the
    result must equal the no-tree answer and the plan must actually
    contain the grouped combine stages."""
    big = pd.DataFrame({"c": range(1, 101)})
    ldf9 = LDFrame(spark.createDataFrame(big).repartition(9))
    out = ldf9.reduction(
        chunk=lambda pdf: pd.DataFrame({"s": [pdf["c"].sum()], "n": [len(pdf)]}),
        combine=lambda pdf: pd.DataFrame({"s": [pdf["s"].sum()], "n": [pdf["n"].sum()]}),
        aggregate=lambda pdf: pd.DataFrame(
            {
                "mean_c": [float(pdf["s"].sum()) / int(pdf["n"].sum())],
                "rows": [int(pdf["n"].sum())],
            }
        ),
        meta="mean_c double, rows long",
        chunk_meta="s long, n long",
        split_every=3,
    )
    # 9 partitions, split_every=3 -> one combine level (9 -> 3, then <=
    # split_every partials remain and aggregate takes over)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1
    row = out.collect()[0]
    assert row["rows"] == 100 and _close(row["mean_c"], 50.5)


def test_reduction_combine_defaults_to_aggregate(spark):
    """combine omitted but split_every set: aggregate serves as combine
    (requires meta == chunk_meta), matching the reference default."""
    big = pd.DataFrame({"c": range(1, 41)})
    ldf8 = LDFrame(spark.createDataFrame(big).repartition(8))
    out = ldf8.reduction(
        chunk=lambda pdf: pd.DataFrame({"s": [pdf["c"].sum()]}),
        aggregate=lambda pdf: pd.DataFrame({"s": [pdf["s"].sum()]}),
        meta="s long",
        split_every=4,
    ).collect()
    assert out[0]["s"] == sum(range(1, 41))


def test_groupby_describe_matches_pandas(spark):
    """groupby().describe() (flat columns) matches the pandas equivalent on
    the smoke fixture for count/mean/std/min/max; the sketch median is
    checked within its rank-error bound instead of exactly."""
    import pandas as pd

    from lithops_dataframe_spark.catalog import load_table
    from lithops_dataframe_spark.frame import LDFrame

    from tests.conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem").select("l_returnflag", "l_quantity")
    got = (
        LDFrame(li).groupby("l_returnflag").describe(["l_quantity"]).spark.toPandas()
        .set_index("l_returnflag").sort_index()
    )
    pdf = li.toPandas()
    exp = pdf.groupby("l_returnflag")["l_quantity"].agg(["count", "mean", "std", "min", "median", "max"]).sort_index()
    assert (got["l_quantity_count"] == exp["count"]).all()
    assert (got["l_quantity_mean"] - exp["mean"]).abs().max() < 1e-9
    assert (got["l_quantity_std"] - exp["std"]).abs().max() < 1e-9
    assert (got["l_quantity_min"] == exp["min"]).all()
    assert (got["l_quantity_max"] == exp["max"]).all()
    # sketch median: within one grid step of the exact median
    assert (got["l_quantity_p50"] - exp["median"]).abs().max() <= 1.0


def test_observe_metrics_ride_the_query(spark):
    """``df.observe`` attaches monitoring aggregates that compute during
    the SAME action as the query (no second scan) — the pipeline-health
    counters a production corpus job exports per run."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from lithops_dataframe_spark.catalog import load_table

    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    obs = Observation("corpus_health")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias("null_texts"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )
    out = observed.groupBy("lang").count().collect()
    m = obs.get
    assert m["n_rows"] == docs.count()
    assert m["null_texts"] == 0
    assert m["avg_chars"] > 0
    assert sum(r["count"] for r in out) == m["n_rows"]


def test_bpe_train_matches_reference(spark):
    """bpe_train vs a straightforward sequential-Python BPE trainer on a
    corpus with overlapping runs ('aaaa') and count ties — rules, order,
    pair counts and the encoded token table must match exactly."""
    from lithops_dataframe_spark.operators.bpe import bpe_train

    texts = [
        "aaaa aaaa banana banana banana bandana",
        "aaaa banana cabana cabana",
        "na na na banana",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    merges, tok = bpe_train(df, n_merges=5, return_tokens=True)
    got = [
        (r["step"], r["left_sym"], r["right_sym"], r["merged"], r["pair_count"])
        for r in sorted(merges.collect(), key=lambda r: r["step"])
    ]

    # reference: greedy sequential BPE over the word-frequency table
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in t.split():
            words[w] += 1
    vocab = {w: list(w) for w in words}
    exp = []
    for step in range(5):
        pairs = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += words[w]
        if not pairs:
            break
        (s1, s2), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        exp.append((step, s1, s2, s1 + s2, c))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == s1 and syms[i + 1] == s2:
                    out.append(s1 + s2)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    assert got == exp
    got_tok = sorted((r["wid"], r["cnt"], r["pos"], r["sym"]) for r in tok.collect())
    exp_tok = sorted(
        (w, words[w], pos, sym) for w, syms in vocab.items() for pos, sym in enumerate(syms, 1)
    )
    assert got_tok == exp_tok
