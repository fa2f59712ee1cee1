"""convert(): compile-once sessions and origin-adjacent number formatting."""

from __future__ import annotations

import json

from osm2geojson_lite_spark import CacheScope, Options, convert
from osm2geojson_lite_spark.sources.synth import SPAN_SCHEMA, generate_documents, wrap_payload


def test_second_convert_compiles_no_new_classes(spark):
    """The session's codegen cache holds one conversion's generated classes,
    so converting the same documents again compiles nothing.  AQE is off
    here, as in the benchmark: adaptive re-planning depends on which stage
    finishes first, so with it a pass can need a plan variant the previous
    pass did not, a compile that is no cache miss."""
    compiled = (spark.sparkContext._jvm.org.apache.spark.metrics.source
                .CodegenMetrics.METRIC_COMPILATION_TIME())
    docs = generate_documents(spark, 24)

    def one_pass():
        with CacheScope() as scope:
            return convert(docs, Options(complete_feature=True), scope=scope).collect()

    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        first = one_pass()
        before = compiled.getCount()
        assert one_pass() == first
        assert compiled.getCount() == before
    finally:
        spark.conf.set(key, prev)


def test_origin_adjacent_coordinates_print_like_js(spark):
    """Coordinates within metres of the equator and the prime meridian use
    JS Number::toString layout: plain 0.00001, unpadded 1e-7."""
    payload = json.dumps({"elements": [
        {"type": "node", "id": 1, "lat": -1e-7, "lon": 0.00001, "tags": {"n": "a"}},
        {"type": "node", "id": 2, "lat": 0.000002, "lon": -0.0},
        {"type": "node", "id": 4, "lat": 0.000001, "lon": 5e-7},
        {"type": "way", "id": 3, "nodes": [2, 4], "tags": {"highway": "path"}},
    ]})
    docs = spark.createDataFrame([wrap_payload("origin", payload)], SPAN_SCHEMA)
    [row] = convert(docs, Options(complete_feature=True)).collect()
    assert row["geojson"] == (
        '{"type":"FeatureCollection","features":['
        '{"type":"Feature","id":"node/1","properties":{"id":"node/1","n":"a"},'
        '"geometry":{"type":"Point","coordinates":[0.00001,-1e-7]}},'
        '{"type":"Feature","id":"way/3","properties":{"id":"way/3","highway":"path"},'
        '"geometry":{"type":"LineString","coordinates":[[0,0.000002],[5e-7,0.000001]]}}]}'
    )
