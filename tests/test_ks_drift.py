"""ks_two_sample_by_group: the exact cross-multiplied KS statistic must
equal a direct numpy computation of max |F_A(x) - F_B(x)| on random data
(including ties and empty-side groups), and the registered drift query
must match its DuckDB oracle (covered again by the oracle battery)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from lithops_dataframe_spark.operators.evaluation import ks_two_sample_by_group


pytestmark = pytest.mark.usefixtures("scoped_cache")


def _ks_numpy(va: np.ndarray, vb: np.ndarray) -> tuple[int, int, int]:
    """(n_a, n_b, ks_num) with ks_num = max |n_b*cum_a - n_a*cum_b| over
    the pooled distinct values."""
    na, nb = len(va), len(vb)
    xs = np.unique(np.concatenate([va, vb]))
    cum_a = np.searchsorted(np.sort(va), xs, side="right")
    cum_b = np.searchsorted(np.sort(vb), xs, side="right")
    return na, nb, int(np.max(np.abs(nb * cum_a - na * cum_b))) if len(xs) else 0


def test_ks_matches_numpy_with_ties(spark):
    rng = np.random.RandomState(7)
    rows = []
    for grp, (shift, n1, n2) in {
        "same": (0.0, 400, 300),
        "shifted": (0.7, 350, 450),
        "tied": (0.0, 200, 200),
    }.items():
        a = rng.normal(0, 1, n1)
        b = rng.normal(shift, 1, n2)
        if grp == "tied":  # heavy ties: quantize to .5 steps
            a, b = np.round(a * 2) / 2, np.round(b * 2) / 2
        rows += [(grp, float(v), 1) for v in a]
        rows += [(grp, float(v), 0) for v in b]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["g", "v", "flag"]))
    got = {
        r["g"]: r
        for r in ks_two_sample_by_group(df, "g", "v", "flag").collect()
    }
    by_grp: dict[str, tuple[list, list]] = {}
    for grp, v, flag in rows:
        by_grp.setdefault(grp, ([], []))[0 if flag else 1].append(v)
    for grp, (va, vb) in by_grp.items():
        na, nb, ks_num = _ks_numpy(np.array(va), np.array(vb))
        r = got[grp]
        assert (r["n_a"], r["n_b"], r["ks_num"]) == (na, nb, ks_num), grp
        assert r["ks_micros"] == ks_num * 1_000_000 // (na * nb)
    # sanity: identical distributions score lower than a 0.7-sigma shift
    assert got["shifted"]["ks_micros"] > got["same"]["ks_micros"]


def test_ks_empty_side_group(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"g": ["only_a"] * 5, "v": [1.0, 2.0, 2.0, 3.0, 4.0], "flag": [1] * 5})
    )
    r = ks_two_sample_by_group(df, "g", "v", "flag").collect()[0]
    assert (r["n_a"], r["n_b"], r["ks_micros"]) == (5, 0, 0)


def test_ks_null_values_dropped(spark):
    """NULL values must not shift the CDF (Spark and DuckDB order NULLs
    differently) — they are dropped before counting on both engines."""
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "g": ["x"] * 6,
                "v": [1.0, None, 2.0, None, 1.0, 3.0],
                "flag": [1, 1, 1, 0, 0, 0],
            }
        )
    )
    r = ks_two_sample_by_group(df, "g", "v", "flag").collect()[0]
    na, nb, ks_num = _ks_numpy(np.array([1.0, 2.0]), np.array([1.0, 3.0]))
    assert (r["n_a"], r["n_b"], r["ks_num"]) == (na, nb, ks_num)
