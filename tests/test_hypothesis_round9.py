"""Property-based invariants for the round-9 operators: randomized ids,
weights, and partition counts → layout-independence (a reservoir or a
global rank must not care how the data is partitioned), exact replay of
the sequential definitions, and the serpentine balance bound. Bounded
example counts keep Spark-job overhead sane (same discipline as
tests/test_hypothesis_reductions.py)."""

from __future__ import annotations

import hashlib
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lithops_dataframe_spark import cache
from lithops_dataframe_spark.operators.sampling import weighted_reservoir_sample
from lithops_dataframe_spark.operators.util import prefix_sums

from tests.conftest import running_sums


@st.composite
def weighted_rows(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    ids = draw(
        st.lists(
            st.integers(min_value=0, max_value=10**6),
            min_size=n,
            max_size=n,
            unique=True,
        )
    )
    ws = draw(
        st.lists(st.integers(min_value=0, max_value=10**4), min_size=n, max_size=n)
    )
    parts = draw(st.integers(min_value=1, max_value=4))
    k = draw(st.integers(min_value=1, max_value=12))
    return list(zip(ids, ws)), parts, k


def _key(i: int, w: int) -> float:
    h = int(hashlib.md5(str(i).encode()).hexdigest()[:13], 16)
    u = (h + 1) / float(1 << 52)
    return round(-math.log(u) / w, 9)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(wr=weighted_rows())
def test_reservoir_layout_independent_and_sequential_exact(spark, wr):
    rows, parts, k = wr
    df = spark.createDataFrame(rows, "id long, w long").repartition(parts)
    got = {
        (r["id"], r["res_key"])
        for r in weighted_reservoir_sample(df, "w", "id", k=k).collect()
    }
    pos = [(i, w) for i, w in rows if w > 0]
    want = {
        (i, _key(i, w))
        for _, i, w in sorted((_key(i, w), i, w) for i, w in pos)[:k]
    }
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(wr=weighted_rows(), grouped=st.booleans())
def test_prefix_sums_layout_independent(spark, wr, grouped):
    """Row number and a running sum with NULLs (w % 5 == 0) over a DESC
    key, ungrouped or in three groups (one of them NULL), must equal the
    sequential running sums whatever the input layout."""
    rows, parts, _ = wr
    rows = [
        (i, w, None if w % 5 == 0 else w, (i % 3 or None) if grouped else 0)
        for i, w in rows
    ]
    df = spark.createDataFrame(rows, "id long, w long, wn long, g long").repartition(
        parts
    )
    with cache.scope():
        got = {
            r["id"]: (r["rn"], r["cw"])
            for r in prefix_sums(
                df,
                [F.col("w").desc(), F.col("id").asc()],
                {"rn": F.lit(1), "cw": F.col("wn")},
                group_cols=["g"] if grouped else (),
            ).collect()
        }

    def order(r):
        return (-r[1], r[0])

    def group(r):
        return r[3]

    rn = running_sums(rows, group, order, lambda r: 1)
    cw = running_sums(rows, group, order, lambda r: r[2])
    assert got == {r[0]: (rn[r], cw[r]) for r in rows}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(wr=weighted_rows())
def test_serpentine_balance_bound(spark, wr):
    """For ANY input, the serpentine deal over the size-descending rank
    keeps the shard token spread ≤ the largest document's tokens when
    every shard received the same number of deal rounds — in general the
    spread is bounded by max_doc + (one partial round's max), which is
    ≤ 2·max_doc. Assert the 2·max bound universally (it's the LPT-style
    guarantee the operator exists for)."""
    rows, parts, _ = wr
    S = 4
    ranked = sorted(rows, key=lambda t: (-t[1], t[0]))
    shard_tokens = [0] * S
    for rn, (_, w) in enumerate(ranked):
        m = rn % (2 * S)
        s = m if m < S else 2 * S - 1 - m
        shard_tokens[s] += w
    maxdoc = max((w for _, w in rows), default=0)
    assert max(shard_tokens) - min(shard_tokens) <= 2 * maxdoc

    # and the Spark-side assignment must agree with the sequential deal
    df = spark.createDataFrame(rows, "id long, w long").repartition(parts)
    m = (F.col("rn") - 1) % F.lit(2 * S)
    with cache.scope():
        got = (
            prefix_sums(df, [F.col("w").desc(), F.col("id").asc()], {"rn": F.lit(1)})
            .withColumn(
                "s", F.when(m < S, m).otherwise(F.lit(2 * S - 1) - m).cast("int")
            )
            .groupBy("s")
            .agg(F.sum("w").alias("t"))
            .collect()
        )
    got_tokens = {r["s"]: r["t"] for r in got}
    want_tokens = {s: t for s, t in enumerate(shard_tokens) if t or s in got_tokens}
    for s, t in got_tokens.items():
        assert want_tokens.get(s, 0) == t
