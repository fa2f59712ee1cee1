"""Douglas-Peucker simplification vs an independent recursive oracle."""

from __future__ import annotations

import math
from fractions import Fraction

import numpy as np
from hypothesis import example, given, settings, strategies as st

from osm2geojson_lite_spark.spatial import dp_keep_indices, simplify_lines


def _dp_recursive(pts: list[tuple[float, float]], eps: float) -> list[int]:
    """Textbook recursive DP, written independently of the kernel — the
    semantic oracle.  Exact: rational arithmetic over the same float
    inputs, squared distances compared with ``eps**2``, so a point at
    exactly ``eps`` from its chord is dropped whatever the rounding."""
    n = len(pts)
    if n <= 2:
        return list(range(n))
    q = [(Fraction(x), Fraction(y)) for x, y in pts]
    eps2 = Fraction(eps) ** 2

    def seg(i0: int, i1: int) -> list[int]:
        if i1 - i0 < 2:
            return []
        (x0, y0), (x1, y1) = q[i0], q[i1]
        dx, dy = x1 - x0, y1 - y0
        len2 = dx * dx + dy * dy
        best, bi = Fraction(-1), -1
        for j in range(i0 + 1, i1):
            xj, yj = q[j]
            if len2 == 0:
                d2 = (xj - x0) ** 2 + (yj - y0) ** 2
            else:
                d2 = (dx * (yj - y0) - dy * (xj - x0)) ** 2 / len2
            if d2 > best:
                best, bi = d2, j
        if best > eps2:
            return seg(i0, bi) + [bi] + seg(bi, i1)
        return []

    return [0] + seg(0, n - 1) + [n - 1]


def _kernel_keep(pts, eps):
    a = np.asarray(pts, dtype=float)
    return list(dp_keep_indices(a[:, 0], a[:, 1], eps))


def test_flat_jitter_dropped():
    pts = [(0, 0), (1, 0.01), (2, -0.01), (3, 0.02), (4, 0)]
    assert _kernel_keep(pts, 0.5) == [0, 4]


def test_spike_kept():
    pts = [(0, 0), (1, 0.01), (2, -0.01), (3, 5.0), (4, 0.01), (5, 0)]
    kept = _kernel_keep(pts, 0.5)
    assert 3 in kept and kept == _dp_recursive(pts, 0.5)


def test_collinear_all_dropped():
    pts = [(float(i), 2.0 * i) for i in range(10)]
    assert _kernel_keep(pts, 1e-9) == [0, 9]


def test_short_and_degenerate():
    assert _kernel_keep([(1, 1)], 1.0) == [0]
    assert _kernel_keep([(1, 1), (2, 2)], 1.0) == [0, 1]
    # closed loop: zero-length chord -> radial distance rule
    pts = [(0, 0), (3, 0), (3, 3), (0, 0)]
    assert _kernel_keep(pts, 1.0) == [0, 1, 2, 3]
    assert _kernel_keep([(0, 0), (0.1, 0), (0, 0)], 1.0) == [0, 2]


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(-100, 100, allow_nan=False),
            st.floats(-100, 100, allow_nan=False),
        ),
        min_size=1, max_size=40,
    ),
    st.floats(0.01, 10.0),
)
# a point at exactly eps; two deviations that round alike; a chord whose
# squared length underflows
@example([(0, 0), (0, 0.99999), (99.5, 0)], 0.99999)
@example([(2.0, 2.0 ** -52), (0.5, 1.0), (0.0, 1.0), (0.0, 0.0)], 0.5)
@example([(0.0, 2.225073858507e-311), (1.0, 1.0), (0.0, 0.0)], 1.0)
def test_matches_recursive_oracle(pts, eps):
    assert _kernel_keep(pts, eps) == _dp_recursive(pts, eps)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(st.floats(-50, 50, allow_nan=False),
                  st.floats(-50, 50, allow_nan=False)),
        min_size=3, max_size=30,
    ),
    st.floats(0.05, 5.0),
)
def test_deviation_bound_and_idempotence(pts, eps):
    kept = _kernel_keep(pts, eps)
    assert kept[0] == 0 and kept[-1] == len(pts) - 1
    # every dropped point is within eps of its covering simplified chord
    a = np.asarray(pts, dtype=float)
    for s, e in zip(kept, kept[1:]):
        (x0, y0), (x1, y1) = a[s], a[e]
        dx, dy = x1 - x0, y1 - y0
        ln = math.hypot(dx, dy)
        for j in range(s + 1, e):
            xj, yj = a[j]
            d = (math.hypot(xj - x0, yj - y0) if ln == 0.0
                 else abs(dx * (yj - y0) - dy * (xj - x0)) / ln)
            assert d <= eps * (1 + 1e-9)
    # idempotence: simplifying the simplified line keeps everything
    sub = a[kept]
    again = list(dp_keep_indices(sub[:, 0], sub[:, 1], eps))
    assert again == list(range(len(kept)))


def test_spark_operator_matches_kernel(spark):
    rows = [
        (1, [[0.0, 0.0], [1.0, 0.01], [2.0, -0.01], [3.0, 5.0], [4.0, 0.0]]),
        (2, [[0.0, 0.0], [1.0, 2.0]]),
        (3, []),
        (4, [[float(i), float(i % 3) * 0.05] for i in range(25)]),
    ]
    df = spark.createDataFrame(rows, "way_id bigint, coords array<array<double>>")
    out = {r["way_id"]: (r["n_in"], r["kept"])
           for r in simplify_lines(df, 0.5).collect()}
    for wid, coords in rows:
        want = (_kernel_keep(coords, 0.5) if coords else [])
        assert out[wid] == (len(coords), want), wid
    # partitioning invariance
    out7 = {r["way_id"]: (r["n_in"], r["kept"])
            for r in simplify_lines(df.repartition(7), 0.5).collect()}
    assert out7 == out
