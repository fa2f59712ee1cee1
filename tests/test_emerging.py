"""Mann-Kendall trend (spatial.emerging) vs a naive in-test python oracle."""

from __future__ import annotations

import math
import random

import pytest

from osm2geojson_lite_spark.spatial import mann_kendall_trend


# ---------------------------------------------------------------------------
# Naive oracle: textbook pairwise double sum over the densified frame
# ---------------------------------------------------------------------------


def _naive_mk(xs: list[int]) -> dict:
    n = len(xs)
    s = 0
    for i in range(n):
        for j in range(i + 1, n):
            d = xs[j] - xs[i]
            s += (d > 0) - (d < 0)
    tie = 0
    for v in set(xs):
        t = xs.count(v)
        tie += t * (t - 1) * (2 * t + 5)
    var18 = n * (n - 1) * (2 * n + 5) - tie
    if s == 0:
        z = 0.0
    elif var18 > 0:
        sgn = 1 if s > 0 else -1
        z = round((s - sgn) / math.sqrt(var18 / 18.0), 9)
    else:  # var18 == 0 forces every value equal, hence s == 0; unreachable
        z = None
    crit = 1.959963984540054
    trend = ("increasing" if z is not None and z > crit
             else "decreasing" if z is not None and z < -crit else "none")
    return {"n_buckets": n, "n_nonzero": sum(1 for v in xs if v != 0),
            "s_stat": s, "var18": var18, "z": z, "trend": trend}


def _run(spark, rows, **kw):
    df = spark.createDataFrame(rows, "cell long, b long, x long")
    out = mann_kendall_trend(df, **kw)
    return {r["cell"]: r.asDict() for r in out.collect()}


def _check(got: dict, cell: int, xs: list[int]):
    exp = _naive_mk(xs)
    g = got[cell]
    for k, v in exp.items():
        if isinstance(v, float):
            assert g[k] == pytest.approx(v, abs=1e-9), (cell, k)
        else:
            assert g[k] == v, (cell, k)


def test_monotone_series_and_known_values(spark):
    # strictly increasing 1..5: S = 10, no ties, var18 = 5*4*15 = 300
    rows = [(1, b, b + 1) for b in range(5)]
    got = _run(spark, rows)
    assert got[1]["s_stat"] == 10
    assert got[1]["var18"] == 300
    assert got[1]["z"] == pytest.approx(9.0 / math.sqrt(300.0 / 18.0), abs=1e-9)
    assert got[1]["trend"] == "increasing"
    _check(got, 1, [1, 2, 3, 4, 5])


def test_ties_flat_and_decreasing(spark):
    series = {
        1: [3, 3, 3, 3, 3, 3],        # all-tied: S = 0, var18 = 0, z = 0
        2: [9, 7, 7, 5, 3, 1],        # decreasing with a tie group
        3: [2, 5, 1, 4, 0, 3],        # mixed, no significant trend
    }
    rows = [(c, b, x) for c, xs in series.items() for b, x in enumerate(xs)]
    got = _run(spark, rows)
    for c, xs in series.items():
        _check(got, c, xs)
    assert got[1]["trend"] == "none" and got[1]["z"] == 0.0
    assert got[2]["trend"] == "decreasing"


def test_densifies_to_global_frame_with_zeros(spark):
    # cell 1 occupies buckets {0, 9}; cell 2 {3..5}: both series run over
    # the global frame [0, 9] with zeros filled in.
    rows = [(1, 0, 4), (1, 9, 8), (2, 3, 2), (2, 4, 2), (2, 5, 7)]
    got = _run(spark, rows)
    assert got[1]["n_buckets"] == got[2]["n_buckets"] == 10
    _check(got, 1, [4, 0, 0, 0, 0, 0, 0, 0, 0, 8])
    _check(got, 2, [0, 0, 0, 2, 2, 7, 0, 0, 0, 0])
    assert got[1]["n_nonzero"] == 2 and got[2]["n_nonzero"] == 3


def test_random_series_match_naive_any_partitioning(spark):
    rng = random.Random(77)
    series = {c: [rng.randrange(0, 6) for _ in range(12)] for c in range(20)}
    rows = [(c, b + 100, x)  # offset buckets: frame start need not be 0
            for c, xs in series.items() for b, x in enumerate(xs) if x != 0]
    for parts in (1, 7):
        df = spark.createDataFrame(rows, "cell long, b long, x long") \
            .repartition(parts)
        got = {r["cell"]: r.asDict()
               for r in mann_kendall_trend(df).collect()}
        for c, xs in series.items():
            if any(xs):  # cells with no surviving rows don't appear
                _check(got, c, xs)


def test_max_buckets_fence_raises(spark):
    rows = [(1, 0, 1), (1, 10_000, 2)]
    df = spark.createDataFrame(rows, "cell long, b long, x long")
    out = mann_kendall_trend(df, max_buckets=100)
    with pytest.raises(Exception, match="max_buckets"):
        out.collect()
    with pytest.raises(ValueError):
        mann_kendall_trend(df, max_buckets=1)


def test_empty_input_passes_through(spark):
    """Empty input must yield an empty result, not a misleading
    max_buckets raise_error from the NULL min/max frame row."""
    df = spark.createDataFrame([], "cell long, b long, x long")
    assert mann_kendall_trend(df).collect() == []


def test_all_null_buckets_rejected_by_name(spark):
    """All-NULL buckets pass the empty-input disjunct of the frame fence;
    they must fail with a message naming the column, not as an opaque
    NULL map-key error."""
    df = spark.createDataFrame([(1, None, 3), (2, None, 4)],
                               "cell long, b long, x long")
    with pytest.raises(Exception, match="NULL in bucket column 'b'"):
        mann_kendall_trend(df).collect()
