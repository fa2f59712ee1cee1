"""Spatial extension tests (SURVEY.md §2.8 X1-X4): cell index, PIP join,
exact kNN, raster assignment — each checked against a brute-force oracle."""

from __future__ import annotations

import json
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm2geojson_lite_spark.functions.geometry import point_inside_polygon
from osm2geojson_lite_spark.spatial import (
    cell_col,
    cell_parent_col,
    knn_join,
    neighbor_cells_col,
    np_cell,
    pip_join,
    raster_tile_assignment,
    tile_manifest,
)


def _pts(spark, coords, idc="point_id"):
    return spark.createDataFrame(
        [(str(i), float(x), float(y)) for i, (x, y) in enumerate(coords)],
        f"{idc} string, lon double, lat double",
    )


@pytest.fixture(scope="module")
def coords():
    rng = np.random.RandomState(7)
    lon = rng.uniform(-10, 10, 300)
    lat = rng.uniform(40, 50, 300)
    return list(zip(lon, lat))


def test_cell_col_matches_numpy_twin(spark, coords):
    df = _pts(spark, coords)
    got = df.select("point_id", cell_col(F.col("lon"), F.col("lat"), 9).alias("cell")).collect()
    lon = np.array([c[0] for c in coords])
    lat = np.array([c[1] for c in coords])
    want = np_cell(lon, lat, 9)
    for r in got:
        assert r["cell"] == want[int(r["point_id"])]


def test_cell_parent_arithmetic(spark, coords):
    df = _pts(spark, coords)
    got = df.select(
        cell_parent_col(cell_col(F.col("lon"), F.col("lat"), 12), 12, 7).alias("p"),
        cell_col(F.col("lon"), F.col("lat"), 7).alias("direct"),
    ).collect()
    for r in got:
        assert r["p"] == r["direct"]


def test_neighbor_cells_count_and_self(spark):
    df = _pts(spark, [(0.5, 0.5)])
    row = df.select(
        cell_col(F.col("lon"), F.col("lat"), 9).alias("c"),
        neighbor_cells_col(cell_col(F.col("lon"), F.col("lat"), 9), 9).alias("nbrs"),
    ).collect()[0]
    assert row["c"] in row["nbrs"]
    assert len(row["nbrs"]) == 9  # interior cell: full 3x3


def test_neighbor_cells_pole_clamp(spark):
    df = _pts(spark, [(0.0, 89.99)])
    row = df.select(
        neighbor_cells_col(cell_col(F.col("lon"), F.col("lat"), 9), 9).alias("nbrs")
    ).collect()[0]
    assert len(row["nbrs"]) == 6  # top row clipped at the pole


def test_pip_join_matches_bruteforce(spark, coords):
    # diamonds (rotated squares) around deterministic centers
    polys = []
    for i in range(12):
        cx, cy = -8 + 1.5 * i, 41 + 0.7 * i
        r = 0.8
        ring = [[cx + r, cy], [cx, cy + r], [cx - r, cy], [cx, cy - r], [cx + r, cy]]
        polys.append((f"poly{i}", json.dumps(ring)))
    pdf = spark.createDataFrame(polys, "poly_id string, ring_json string")
    got = {
        (r["point_id"], r["poly_id"])
        for r in pip_join(_pts(spark, coords), pdf, res=9).collect()
    }
    want = set()
    for pid, (x, y) in enumerate(coords):
        for poly_id, rj in polys:
            if point_inside_polygon([x, y], json.loads(rj)):
                want.add((str(pid), poly_id))
    assert got == want and len(want) > 0


def test_pip_join_salted_identical(spark, coords):
    polys = spark.createDataFrame(
        [("p0", json.dumps([[-5, 42], [5, 42], [5, 48], [-5, 48], [-5, 42]]))],
        "poly_id string, ring_json string",
    )
    base = set(map(tuple, pip_join(_pts(spark, coords), polys, res=8).collect()))
    salted = set(map(tuple, pip_join(_pts(spark, coords), polys, res=8, salt=4).collect()))
    assert base == salted and len(base) > 0


def _brute_knn(queries, points, k):
    want = {}
    for qi, (qx, qy) in enumerate(queries):
        d = sorted(
            ((qx - px) ** 2 + (qy - py) ** 2, str(pi))
            for pi, (px, py) in enumerate(points)
        )
        want[str(qi)] = [pid for _, pid in d[:k]]
    return want


def test_knn_exact_vs_bruteforce(spark, coords):
    queries = [(-5 + i, 42 + 0.5 * i) for i in range(8)]
    qdf = _pts(spark, queries, idc="query_id")
    got = {}
    for r in knn_join(qdf, _pts(spark, coords), k=5, res_start=10).collect():
        got.setdefault(r["query_id"], {})[r["rank"]] = r["neighbor_id"]
    want = _brute_knn(queries, coords, 5)
    for q, ranked in want.items():
        assert [got[q][i + 1] for i in range(5)] == ranked


def test_knn_small_point_set_fallback(spark):
    # fewer points than ever satisfy the radius criterion -> brute fallback
    qdf = _pts(spark, [(0, 0), (100, 50)], idc="query_id")
    pdf = _pts(spark, [(1, 1), (2, 2), (50, 10)])
    out = knn_join(qdf, pdf, k=3, res_start=9).collect()
    assert len(out) == 6  # 2 queries x 3 (=|points|)


def test_raster_tile_known_values(spark):
    # slippy-map reference: lon=0,lat=0,z=1 -> (1,0)? no: (1,0) x=1,y=0?? compute:
    # x = floor((0+180)/360*2)=1 ; y = floor((1-0)/2*2)=1 -> wait asinh(0)=0 -> y=floor(0.5*2)=1
    df = _pts(spark, [(0.0, 0.0), (-180.0, 85.0511), (179.9, -85.0)])
    out = raster_tile_assignment(df, z=1, feature_id="point_id").collect()
    tiles = {r["feature_id"]: (r["tile_x"], r["tile_y"]) for r in out}
    assert tiles["0"] == (1, 1)
    assert tiles["1"] == (0, 0)
    assert tiles["2"] == (1, 1)
    man = tile_manifest(raster_tile_assignment(df, z=1, feature_id="point_id")).collect()
    assert sum(r["n_features"] for r in man) == 3
    for r in man:
        assert r["feature_ids"] == sorted(r["feature_ids"])


def test_mercator_formula_matches_math(spark):
    lon, lat, z = 13.37, 52.51, 12
    df = _pts(spark, [(lon, lat)])
    r = raster_tile_assignment(df, z=z, feature_id="point_id").collect()[0]
    n = 2 ** z
    xt = int((lon + 180.0) / 360.0 * n)
    phi = math.radians(lat)
    yt = int((1.0 - math.log(math.tan(phi) + 1 / math.cos(phi)) / math.pi) / 2.0 * n)
    assert (r["tile_x"], r["tile_y"]) == (xt, yt)


# ---------------------------------------------------------------------------
# radius (range) join
# ---------------------------------------------------------------------------


def _brute_radius(left, right, radius):
    out = set()
    for i, (lx, ly) in enumerate(left):
        for j, (rx, ry) in enumerate(right):
            if (lx - rx) ** 2 + (ly - ry) ** 2 <= radius * radius:
                out.add((str(i), str(j)))
    return out


def test_radius_join_matches_bruteforce(spark, coords):
    from osm2geojson_lite_spark.spatial.range_join import radius_join, radius_res

    left = coords[:60]
    right = coords
    for radius in (0.05, 0.3, 1.7):
        got = radius_join(
            _pts(spark, left, idc="left_id"), _pts(spark, right, idc="right_id"),
            radius, left_id="left_id", right_id="right_id",
        ).collect()
        pairs = {(r["left_id"], r["right_id"]) for r in got}
        assert pairs == _brute_radius(left, right, radius), radius
        # exactness precondition of the auto-picked resolution
        from osm2geojson_lite_spark.spatial.cells import cell_size_deg

        assert cell_size_deg(radius_res(radius)) >= radius


def test_radius_join_salted_identical(spark, coords):
    from osm2geojson_lite_spark.spatial.range_join import radius_join

    l = _pts(spark, coords[:40], idc="left_id")
    r = _pts(spark, coords, idc="right_id")
    plain = {(x["left_id"], x["right_id"]) for x in radius_join(
        l, r, 0.4, left_id="left_id", right_id="right_id").collect()}
    salted = {(x["left_id"], x["right_id"]) for x in radius_join(
        l, r, 0.4, left_id="left_id", right_id="right_id", salt=4).collect()}
    assert plain == salted


def test_radius_join_self_exclusion_and_res_guard(spark, coords):
    from osm2geojson_lite_spark.spatial.range_join import radius_join

    pts = _pts(spark, coords[:30], idc="pid")
    got = radius_join(pts, pts, 0.5, left_id="pid", right_id="pid",
                      include_self=False).collect()
    assert all(r["left_id"] != r["right_id"] for r in got)
    with pytest.raises(ValueError):
        radius_join(pts, pts, 0.5, left_id="pid", right_id="pid", res=12)


# ---------------------------------------------------------------------------
# kNN cache hygiene (ADVICE: remaining.persist() leaked across rounds/calls)
# ---------------------------------------------------------------------------


def test_knn_no_cached_plan_growth_across_calls(spark):
    from osm2geojson_lite_spark.spatial.knn import knn_join

    queries = spark.range(40).select(
        F.col("id").alias("query_id"),
        ((F.col("id") * 7919 % 360) - 180.0).cast("double").alias("lon"),
        ((F.col("id") * 104729 % 180) - 90.0).cast("double").alias("lat"),
    )
    points = spark.range(3000).select(
        F.col("id").alias("point_id"),
        ((F.col("id") * 6007 % 3600) / 10.0 - 180.0).cast("double").alias("lon"),
        ((F.col("id") * 9973 % 1800) / 10.0 - 90.0).cast("double").alias("lat"),
    )

    def n_cached() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    first = knn_join(queries, points, k=3).collect()
    after_first = n_cached()
    for _ in range(3):
        again = knn_join(queries, points, k=3).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, first))
    # repeated calls must not accumulate cached plans (at most the one
    # live leftover cache from the final call)
    assert n_cached() <= after_first


def test_pip_vertical_edge_no_warnings():
    """VERDICT r3 #5: vertical edges, identical consecutive vertices, and
    near-denormal dx must raise no numpy RuntimeWarning and must agree with
    the scalar ray cast."""
    import warnings

    import numpy as np

    from osm2geojson_lite_spark.functions.geometry import (
        point_inside_polygon,
        points_inside_polygon,
    )

    polygon = np.array([
        [0.0, 0.0], [0.0, 5.0],        # vertical edge
        [2.5, 5.0], [2.5, 5.0],        # identical consecutive vertices
        [5.0, 5.0], [5.0 + 1e-300, 0.0],  # near-denormal dx
        [1e308, -1e308],               # overflow-scale vertex
    ])
    pts = np.array([
        [1.0, 1.0], [4.9, 0.1], [-1.0, 2.0], [2.5, 5.0], [0.0, 0.0],
        [6.0, 6.0],
    ])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = points_inside_polygon(pts, polygon)
    want = [point_inside_polygon(p, polygon.tolist()) for p in pts.tolist()]
    assert got.tolist() == want
