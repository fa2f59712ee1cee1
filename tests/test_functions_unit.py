"""Unit equivalence tests for column-expression twins of kernel functions."""

from __future__ import annotations

from osm2geojson_lite_spark.functions.polytags import (
    POLYGON_TAGS,
    classify_is_polygon,
    polygon_class_col,
)


def test_polygon_class_col_matches_python(spark):
    from pyspark.sql import functions as F

    cases = []
    for k, (mode, values) in POLYGON_TAGS.items():
        for v in sorted(values) or ["x"]:
            cases.append((k, v))
        cases.append((k, "some_other_value"))
    cases += [("not_a_polytag", "yes"), ("name", "building")]
    df = spark.createDataFrame(cases, "k string, v string")
    got = {
        (r["k"], r["v"]): r["p"]
        for r in df.select("k", "v", polygon_class_col(F.col("k"), F.col("v")).alias("p")).collect()
    }
    for k, v in cases:
        assert got[(k, v)] == classify_is_polygon([(k, v)]), (k, v)


def test_fast_path_feature_assembly_matches_canonical():
    """The string-assembled node/way feature JSON must be byte-identical to
    canonical_json of the dict-built feature."""
    import json
    import pandas as pd

    from osm2geojson_lite_spark.functions.jsnumber import canonical_json
    from osm2geojson_lite_spark.operators.assemble import (
        build_node_feature,
        build_way_feature,
        node_features_kernel,
        way_features_kernel,
    )

    node_cases = [
        ('node/1', '{"id":"node/1"}', "{}", "52.52", "13.405"),
        ('node/2', '{"id":"node/2","user":"alice \\"x\\""}',
         '{"name":"café","amenity":"café"}', "7", "-0.25"),
        ('node/3', '{"id":"node/3"}', "{}", "abc", "1e3"),  # NaN lon
        ('node/4', '{"id":"node/4","version":7}', "{}", "-180", "90"),
        ('node/5', '{"id":"node/5"}', "{}", "0.00001", "-1e-7"),  # near the origin
    ]
    pdf = pd.DataFrame({
        "doc_id": ["d"] * len(node_cases),
        "out_pos": range(len(node_cases)),
        "composite": [c[0] for c in node_cases],
        "props_json": [c[1] for c in node_cases],
        "tags_json": [c[2] for c in node_cases],
        "lon": [c[3] for c in node_cases],
        "lat": [c[4] for c in node_cases],
    })
    got = pd.concat(list(node_features_kernel([pdf])))
    for i, (comp, pj, tj, lon, lat) in enumerate(node_cases):
        want = canonical_json(build_node_feature(comp, pj, tj, lon, lat))
        assert got["feature_json"].iloc[i] == want, comp
    assert got["feature_json"].iloc[4].endswith('"coordinates":[0.00001,-1e-7]}}')

    way_cases = [
        # open line
        ('way/1', '{"id":"way/1"}', "{}", "[]",
         json.dumps([["0", "0"], ["1", "1.5"]])),
        # closed building ring (polygon upgrade, CW input -> reversed)
        ('way/2', '{"id":"way/2"}', '{"building":"yes"}',
         json.dumps([["building", "yes"]]),
         json.dumps([["0", "0"], ["0", "1"], ["1", "1"], ["1", "0"], ["0", "0"]])),
        # closed but blacklisted (stays LineString)
        ('way/3', '{"id":"way/3"}', '{"natural":"cliff"}',
         json.dumps([["natural", "cliff"]]),
         json.dumps([["0", "0"], ["1", "0"], ["1", "1"], ["0", "1"], ["0", "0"]])),
    ]
    pdf = pd.DataFrame({
        "doc_id": ["d"] * len(way_cases),
        "out_pos": range(len(way_cases)),
        "composite": [c[0] for c in way_cases],
        "props_json": [c[1] for c in way_cases],
        "tags_json": [c[2] for c in way_cases],
        "tag_events_json": [c[3] for c in way_cases],
        "coords_json": [c[4] for c in way_cases],
    })
    got = pd.concat(list(way_features_kernel([pdf])))
    for i, (comp, pj, tj, tev, cj) in enumerate(way_cases):
        want = canonical_json(build_way_feature(comp, pj, tj, tev, cj))
        assert got["feature_json"].iloc[i] == want, comp
