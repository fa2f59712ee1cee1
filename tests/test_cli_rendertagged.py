"""CLI front door (S6, ``cli.ts:19-39``) + render_tagged/exclude_way
visibility semantics (P3, ``index.ts:215-217``).

The reference goldens in test/expected were generated with
``{completeFeature: true}`` only; the CLI forces ``renderTagged: true`` on
top (``cli.ts:27``).  For ``relation.json`` the two agree — its only tagged
referenced elements are *ways*, which stay hidden because ``excludeWay``
defaults true — so the CLI smoke test can pin against the existing golden.
The render_tagged matrix itself is pinned analytically on a constructed
document where every branch of the skip predicate
``refCount>0 && (!hasTag || !renderTagged || (isWay && excludeWay))``
is exercised.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from osm2geojson_lite_spark import Options, convert
from osm2geojson_lite_spark.sources.synth import (
    REFERENCE_DATA_DIR,
    REFERENCE_EXPECTED_DIR,
    SPAN_SCHEMA,
)

from .conftest import needs_reference, normalize


# ---------------------------------------------------------------------------
# render_tagged / exclude_way matrix
# ---------------------------------------------------------------------------

_PAYLOAD = json.dumps({"elements": [
    {"type": "node", "id": 1, "lat": 1.0, "lon": 1.0, "tags": {"name": "n1"}},
    {"type": "node", "id": 2, "lat": 1.0, "lon": 2.0},
    {"type": "way", "id": 10, "nodes": [1, 2],
     "tags": {"highway": "residential"}},
    {"type": "relation", "id": 20,
     "members": [{"type": "way", "ref": 10, "role": ""}],
     "tags": {"type": "route"}},
]})


def _convert_ids(spark, opts: Options) -> list[tuple[str, str]]:
    docs = spark.createDataFrame(
        [("d", [{"kind": "text", "text": _PAYLOAD, "media_ref": None, "offset": 0}])],
        schema=SPAN_SCHEMA,
    )
    [row] = convert(docs, opts).collect()
    feats = json.loads(row["geojson"])["features"]
    return [(f["id"], f["geometry"]["type"]) for f in feats]


def test_default_hides_all_referenced(spark):
    # node 1 is tagged but renderTagged is false; way 10 is tagged but
    # excluded; node 2 untagged -> only the root relation renders
    assert _convert_ids(spark, Options(complete_feature=True)) == [
        ("relation/20", "MultiLineString"),
    ]


def test_render_tagged_reveals_tagged_node_not_way(spark):
    # renderTagged=true lifts the !renderTagged arm; node 1 (tagged, not a
    # way) renders; way 10 stays hidden via the isWay && excludeWay arm
    assert _convert_ids(
        spark, Options(complete_feature=True, render_tagged=True)
    ) == [
        ("node/1", "Point"),
        ("relation/20", "MultiLineString"),
    ]


def test_render_tagged_include_way_reveals_way(spark):
    # excludeWay=false drops the last arm: the tagged way renders too,
    # in document order between the node and the relation
    assert _convert_ids(
        spark,
        Options(complete_feature=True, render_tagged=True, exclude_way=False),
    ) == [
        ("node/1", "Point"),
        ("way/10", "LineString"),
        ("relation/20", "MultiLineString"),
    ]


def test_render_tagged_feature_payloads(spark):
    docs = spark.createDataFrame(
        [("d", [{"kind": "text", "text": _PAYLOAD, "media_ref": None, "offset": 0}])],
        schema=SPAN_SCHEMA,
    )
    [row] = convert(
        docs, Options(complete_feature=True, render_tagged=True, exclude_way=False)
    ).collect()
    node, way, rel = json.loads(row["geojson"])["features"]
    assert node["properties"] == {"id": "node/1", "name": "n1"}
    assert node["geometry"] == {"type": "Point", "coordinates": [1, 1]}
    assert way["properties"] == {"id": "way/10", "highway": "residential"}
    assert way["geometry"] == {
        "type": "LineString", "coordinates": [[1, 1], [2, 1]],
    }
    assert rel["geometry"] == {
        "type": "MultiLineString", "coordinates": [[[1, 1], [2, 1]]],
    }


def test_untagged_unreferenced_node_still_renders(spark):
    payload = json.dumps({"elements": [
        {"type": "node", "id": 5, "lat": 3.0, "lon": 4.0},
    ]})
    docs = spark.createDataFrame(
        [("d", [{"kind": "text", "text": payload, "media_ref": None, "offset": 0}])],
        schema=SPAN_SCHEMA,
    )
    [row] = convert(docs, Options(complete_feature=True, render_tagged=True)).collect()
    feats = json.loads(row["geojson"])["features"]
    assert [(f["id"], f["geometry"]["type"]) for f in feats] == [("node/5", "Point")]


# ---------------------------------------------------------------------------
# CLI smoke tests
# ---------------------------------------------------------------------------


@needs_reference
def test_cli_single_file_matches_golden(spark, tmp_path):
    from osm2geojson_lite_spark.__main__ import main

    out_file = str(tmp_path / "relation.geojson")
    rc = main([os.path.join(REFERENCE_DATA_DIR, "relation.json"), out_file])
    assert rc == 0
    with open(out_file, encoding="utf-8") as f:
        text = f.read()
    assert text.endswith("\n")  # cli.ts:29 trailing newline
    with open(os.path.join(REFERENCE_EXPECTED_DIR, "relation.json.geojson"),
              encoding="utf-8") as f:
        expected = json.load(f)
    assert normalize(json.loads(text)) == normalize(expected)


@needs_reference
def test_cli_directory_mode(spark, tmp_path):
    from osm2geojson_lite_spark.__main__ import main

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for name in ("empty.json", "relation.json"):
        with open(os.path.join(REFERENCE_DATA_DIR, name), encoding="utf-8") as f:
            (in_dir / name).write_text(f.read(), encoding="utf-8")
    out_dir = tmp_path / "out"
    rc = main([str(in_dir), str(out_dir)])
    assert rc == 0
    assert sorted(os.listdir(out_dir)) == ["empty.geojson", "relation.geojson"]
    empty = json.loads((out_dir / "empty.geojson").read_text(encoding="utf-8"))
    assert empty == {"type": "FeatureCollection", "features": []}
