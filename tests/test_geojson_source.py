"""Tests for the GeoJSON feature-table source (`sources/geojson.py`) — the
consuming half of the engine's produce/consume loop.  Verified against a
pure-Python ``json.loads`` oracle over the engine's OWN ``convert()`` output
of the reference fixtures (so the loop convert → GeoJSON → feature table is
tested end-to-end), plus handcrafted edge documents."""

from __future__ import annotations

import json
import os

import pytest

from osm2geojson_lite_spark import Options, convert
from osm2geojson_lite_spark.sources.geojson import geojson_features
from osm2geojson_lite_spark.sources.synth import fixture_documents

from .conftest import needs_reference


@pytest.fixture(scope="module")
def converted(spark):
    """Fixture corpus converted to GeoJSON, kept as a DataFrame."""
    docs = fixture_documents(spark)
    return convert(docs, Options(complete_feature=True)).persist()


@pytest.fixture(scope="module")
def converted_py(converted):
    return {r["doc_id"]: json.loads(r["geojson"]) for r in converted.collect()}


def _bbox_py(geom):
    """min/max over the coordinate numbers, x = even positions."""
    nums = []

    def walk(c):
        if isinstance(c, (int, float)):
            nums.append(float(c))
        else:
            for x in c:
                walk(x)

    walk(geom["coordinates"])
    xs, ys = nums[0::2], nums[1::2]
    return (min(xs), min(ys), max(xs), max(ys), len(nums) // 2)


@needs_reference
def test_roundtrip_matches_json_oracle(converted, converted_py):
    got = {}
    for r in geojson_features(converted).collect():
        got[(r["doc_id"], r["feature_idx"])] = r
    want_keys = set()
    for doc_id, fc in converted_py.items():
        for i, feat in enumerate(fc["features"]):
            want_keys.add((doc_id, i))
            r = got[(doc_id, i)]
            geom = feat.get("geometry")
            if geom is None:
                assert r["geom_type"] is None and r["n_coords"] == 0
                continue
            assert r["geom_type"] == geom["type"]
            assert json.loads(r["geometry"]) == geom
            assert json.loads(r["properties"]) == feat.get("properties", {})
            assert r["feature_id"] == feat.get("id")
            w, s, e, n, n_coords = _bbox_py(geom)
            assert r["n_coords"] == n_coords
            for gotv, wantv in ((r["bbox_w"], w), (r["bbox_s"], s),
                                (r["bbox_e"], e), (r["bbox_n"], n)):
                assert abs(gotv - wantv) < 1e-9, (doc_id, i)
    assert set(got) == want_keys  # no extra, no missing rows


@needs_reference
def test_document_order_preserved(converted, converted_py):
    """feature_idx must reproduce the emitter's document order (O1)."""
    name = next(d for d, fc in converted_py.items()
                if len(fc["features"]) >= 3)
    rows = (geojson_features(converted.filter(f"doc_id = '{name}'"))
            .orderBy("feature_idx").collect())
    want = [f["id"] for f in converted_py[name]["features"]]
    assert [r["feature_id"] for r in rows] == want


def test_edge_documents(spark):
    edge = spark.createDataFrame(
        [(9, '{"type":"FeatureCollection","features":['
             '{"type":"Feature","properties":{},"geometry":null},'
             '{"type":"Feature","properties":{},"geometry":'
             '{"type":"GeometryCollection","geometries":[]}}]}'),
         (10, '{"type":"FeatureCollection","features":[]}'),
         (11, "not json at all"),
         (12, None)],
        "doc_id int, geojson string")
    rows = sorted(map(tuple, geojson_features(edge).collect()))
    # only doc 9 yields rows; both have no coordinates and a null bbox
    assert [r[0] for r in rows] == [9, 9]
    assert all(r[6] == 0 and r[7] is None and r[10] is None for r in rows)
    assert rows[1][2] == "GeometryCollection"


def test_negative_and_float_coords(spark):
    g = ('{"type":"FeatureCollection","features":[{"type":"Feature",'
         '"properties":{},"geometry":{"type":"LineString","coordinates":'
         '[[-1.5,2.25],[3e1,-4.125]]}}]}')
    r = geojson_features(
        spark.createDataFrame([(1, g)], "doc_id int, geojson string")
    ).first()
    assert r["n_coords"] == 2
    assert (r["bbox_w"], r["bbox_s"], r["bbox_e"], r["bbox_n"]) == (
        -1.5, -4.125, 30.0, 2.25)


@needs_reference
def test_partitioning_invariant(converted):
    a = sorted(map(tuple, geojson_features(converted.repartition(1)).collect()))
    b = sorted(map(tuple, geojson_features(converted.repartition(8)).collect()))
    assert a == b
