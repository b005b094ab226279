"""multi_epoch_interleave invariants, differential against a pure-Python
reference implementation (the oracle sweep gates the registered query;
this pins the OPERATOR's semantics on shapes the fixture doesn't hit:
budget larger than the corpus, single-source corpora, sources that wrap
within three epochs, k=1 sources)."""

from __future__ import annotations

import hashlib
import math

import pandas as pd
import pytest

from lithops_dataframe_spark.operators.sampling import multi_epoch_interleave


pytestmark = pytest.mark.usefixtures("scoped_cache")


def _ref(rows, budget):
    """Reference: same quota/offset/closed-form semantics, computed the
    naive way (global sort per epoch)."""
    by_source: dict[str, list[int]] = {}
    for s, i in rows:
        by_source.setdefault(s, []).append(i)
    ranked = {
        s: sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        for s, ids in by_source.items()
    }
    n = {s: len(ids) for s, ids in ranked.items()}
    consumed = {s: 0 for s in n}
    out = []
    for e, kind in enumerate(("uniform", "sqrt", "natural")):
        w = {
            s: 1
            if kind == "uniform"
            else int(math.floor(math.sqrt(n[s])))
            if kind == "sqrt"
            else n[s]
            for s in n
        }
        tw = sum(w.values())
        k = {s: min(n[s], budget * w[s] // tw) for s in n}
        sel = []
        for s in n:
            if k[s] < 1:
                continue
            c = consumed[s] % n[s]
            for slot in range(1, k[s] + 1):
                doc = ranked[s][(c + slot - 1) % n[s]]
                sel.append((slot / k[s], s, doc, slot))
        sel.sort()
        for pos, (_, s, doc, slot) in enumerate(sel, 1):
            out.append((e, doc, s, slot, pos))
        for s in n:
            consumed[s] += k[s]
    return sorted(out)


CASES = [
    # budget exceeds the corpus: every doc in every epoch, wrap every epoch
    ("tiny_corpus", [("a", i) for i in range(3)] + [("b", 10 + i) for i in range(2)], 50),
    # single source: epoch_pos must equal sel_rank
    ("single_source", [("only", i) for i in range(12)], 5),
    # skewed sources that wrap at different epochs
    ("skewed", [("big", i) for i in range(40)] + [("small", 100 + i) for i in range(4)], 12),
    # a source whose sqrt-epoch quota rounds to zero
    ("starved", [("big", i) for i in range(60)] + [("one", 999)], 6),
]


@pytest.mark.parametrize("name,rows,budget", CASES, ids=[c[0] for c in CASES])
def test_matches_reference(spark, name, rows, budget):
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "id"]), "source string, id long"
    )
    got = sorted(
        (r["epoch"], r["id"], r["source"], r["sel_rank"], r["epoch_pos"])
        for r in multi_epoch_interleave(df, "source", "id", budget=budget).collect()
    )
    assert got == _ref(rows, budget)


def test_without_replacement_until_wrap(spark):
    """Across epochs, a source's served docs must be consecutive ranks of
    its md5 order (no repeats until every doc of the source served once)."""
    rows = [("s", i) for i in range(10)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "id"]), "source string, id long"
    )
    res = multi_epoch_interleave(df, "source", "id", budget=4).collect()
    served = [r["id"] for r in sorted(res, key=lambda r: (r["epoch"], r["sel_rank"]))]
    # 3 epochs x k=4 = 12 picks over 10 docs: first 10 distinct, then wrap
    assert len(served) == 12
    assert len(set(served[:10])) == 10
    assert served[10:] == served[:2]


def test_empty_and_degenerate_inputs(spark):
    """Empty corpora produce empty frames, not driver-side exceptions
    (TypeError on None totals / ZeroDivisionError on zero weights)."""
    import pandas as pd

    from lithops_dataframe_spark.operators.sampling import (
        systematic_weighted_sample,
        weighted_interleave_epoch,
    )

    empty = spark.createDataFrame(
        pd.DataFrame({"source": pd.Series(dtype="str"), "id": pd.Series(dtype="int64")}),
        "source string, id long",
    )
    assert multi_epoch_interleave(empty, "source", "id", budget=10).count() == 0
    assert weighted_interleave_epoch(empty, "source", "id", budget=10).count() == 0
    wempty = spark.createDataFrame(
        pd.DataFrame({"w": pd.Series(dtype="int64"), "id": pd.Series(dtype="int64")}),
        "w long, id long",
    )
    assert systematic_weighted_sample(wempty, "w", "id", k=5).count() == 0
    # all-zero weights: picks nothing, never divides by zero
    wzero = spark.createDataFrame(
        pd.DataFrame({"w": [0, 0], "id": [1, 2]}), "w long, id long"
    )
    assert systematic_weighted_sample(wzero, "w", "id", k=5).count() == 0
