"""Douglas-Peucker polyline simplification (the vector-tile LOD step).

Every tiled-GeoJSON pipeline simplifies way geometries before emitting
low-zoom tiles; this is the standard Douglas-Peucker split-at-max-
deviation recursion (Douglas & Peucker 1973, Cartographica 10(2) — the
algorithm behind Shapely/PostGIS ``simplify``), run as an Arrow-batched kernel (numpy per geometry,
never per-point Python) — exactly the per-row-geometry pattern the north
rule prescribes (pandas/Arrow UDFs for per-row work; the reference's
fixture geometries stay untouched because simplification is opt-in,
downstream of assembly).

Scale shape: one ``mapInPandas`` projection — no shuffle, no join; work
is linear in total points (each point is examined once per split level,
O(n log n) expected).  Geometries are independent rows, so partitioning
is whatever the upstream table had; a mega-way is bounded by the same
mega-document guards the parse layer enforces.

Determinism (what makes the DuckDB oracle hash-green): all comparisons
are multiplicative — a point survives iff
``cross(p1-p0, pj-p0)^2 > eps^2 * |p1-p0|^2`` — so there is no sqrt and
no division anywhere, only IEEE-exact +,-,*.  The split point is the
FIRST index attaining the max deviation (numpy ``argmax`` == SQL
``list_position(cs, list_max(cs))``), endpoints always survive, and a
zero-length chord degenerates to radial distance from the start point.
Output is the sorted array of kept 0-based indices — integers, no float
leaves the operator.

The float comparisons decide a chord only where their rounding cannot
change the answer.  When the farthest point lies within a few ulps of the
threshold, or of another point's deviation, that chord is decided again in
exact rational arithmetic over the same float inputs (a point at exactly
``eps`` from its chord is dropped).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame

SIMPLIFY_SCHEMA = "way_id bigint, n_in int, kept array<int>"

# A float decision is trusted only when its margin exceeds these bounds:
# 32 ulps relative (several times the few roundings each term takes), and
# no threshold below 2**-900, where a product may have lost digits to
# underflow.
_REL = 2.0 ** -48
_TINY = 2.0 ** -900


def _exact_split(xs, ys, i0: int, i1: int, eps: float):
    """Exact twin of one chord step: the first interior index farthest from
    chord ``(i0, i1)`` if it lies more than ``eps`` away, else None."""
    from fractions import Fraction

    x0, y0 = Fraction(xs[i0]), Fraction(ys[i0])
    dx, dy = Fraction(xs[i1]) - x0, Fraction(ys[i1]) - y0
    len2 = dx * dx + dy * dy
    best, k = Fraction(-1), None
    for j in range(i0 + 1, i1):
        ax, ay = Fraction(xs[j]) - x0, Fraction(ys[j]) - y0
        c = ax * ax + ay * ay if len2 == 0 else (dx * ay - dy * ax) ** 2
        if c > best:
            best, k = c, j
    return k if best > Fraction(eps) ** 2 * (len2 or 1) else None


def dp_keep_indices(xs: np.ndarray, ys: np.ndarray, eps: float) -> np.ndarray:
    """0-based indices kept by Douglas-Peucker at tolerance ``eps``.

    Iterative stack form of the recursion; each (i0, i1) chord drops its
    interior iff every interior point is within ``eps`` of the chord.
    """
    n = xs.shape[0]
    if n <= 2:
        return np.arange(n)
    eps2 = eps * eps
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 - i0 < 2:
            continue
        x0, y0 = xs[i0], ys[i0]
        dx, dy = xs[i1] - x0, ys[i1] - y0
        ax = xs[i0 + 1:i1] - x0
        ay = ys[i0 + 1:i1] - y0
        if dx == 0.0 and dy == 0.0:
            c = ax * ax + ay * ay
            slack = _REL * c
            thresh = eps2
        else:
            cr = dx * ay - dy * ax
            c = cr * cr
            # cr's rounding error is below _REL * (|dx*ay| + |dy*ax|)
            err = _REL * (np.abs(dx * ay) + np.abs(dy * ax))
            slack = err * (2 * np.abs(cr) + err) + _REL * c
            thresh = eps2 * (dx * dx + dy * dy)
        i = int(np.argmax(c))  # first max -> lowest index
        if not (np.isfinite(c[i]) and np.isfinite(thresh)):
            k = i0 + 1 + i if c[i] > thresh else None
        elif thresh >= _TINY and (c + slack).max() < thresh * (1 - _REL):
            k = None
        elif (thresh >= _TINY and c[i] - slack[i] > thresh * (1 + _REL)
              and np.count_nonzero(c + slack >= c[i] - slack[i]) == 1):
            k = i0 + 1 + i
        else:  # a near-tie: rounding could decide it
            k = _exact_split(xs, ys, i0, i1, eps)
        if k is not None:
            keep[k] = True
            stack.append((k, i1))
            stack.append((i0, k))
    return np.flatnonzero(keep)


def simplify_lines(lines: DataFrame, epsilon: float, *,
                   id_col: str = "way_id",
                   coords_col: str = "coords") -> DataFrame:
    """Simplify ``(id, coords array<array<double>>)`` polylines.

    Output ``(way_id, n_in, kept array<int>)`` — the kept 0-based vertex
    positions (always includes both endpoints; a 0/1/2-point line passes
    through unchanged).  Join ``kept`` back to the coordinates (or slice
    with ``F.transform``) to materialize the simplified geometry; keeping
    indices rather than floats keeps the operator's output exact.
    """
    eps = float(epsilon)

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            ids, nins, kepts = [], [], []
            for wid, coords in zip(pdf[id_col], pdf[coords_col]):
                pts = np.asarray([(c[0], c[1]) for c in coords], dtype=np.float64) \
                    if len(coords) else np.empty((0, 2))
                idx = dp_keep_indices(pts[:, 0], pts[:, 1], eps) \
                    if pts.shape[0] else np.arange(0)
                ids.append(wid)
                nins.append(pts.shape[0])
                kepts.append([int(i) for i in idx])
            yield pd.DataFrame(
                {"way_id": ids, "n_in": nins, "kept": kepts})

    return (
        lines.select(id_col, coords_col)
        .mapInPandas(kernel, schema=SIMPLIFY_SCHEMA)
    )
