"""convert(): the per-document stream against the join plan, its plan
shape and output batching, compile-once sessions and origin-adjacent number
formatting."""

from __future__ import annotations

import json

import pandas as pd
from hypothesis import HealthCheck, given, settings, strategies as st

from osm2geojson_lite_spark import CacheScope, Options, convert
from osm2geojson_lite_spark.operators import convert as convert_mod
from osm2geojson_lite_spark.sources.synth import (
    SPAN_SCHEMA,
    _doc_payload,
    generate_documents,
    wrap_payload,
)
from perfbench.layers import Tracer, layered_convert


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


# ---------------------------------------------------------------------------
# the per-document stream against the join plan
# ---------------------------------------------------------------------------

_ids = st.sampled_from([1, 2, 3, 4, 5, 6])  # a small pool: refs hit, dangle and repeat
_coord = st.integers(0, 3).map(float)       # a coarse grid: endpoints meet, rings close
_tags = st.dictionaries(
    st.sampled_from(["building", "area", "natural", "highway", "name", "type"]),
    st.sampled_from(["yes", "no", "wood", "multipolygon", "x"]), max_size=2)
_role = st.sampled_from(["outer", "inner", "", "forward"])
_geometry = st.lists(st.fixed_dictionaries({"lat": _coord, "lon": _coord}),
                     min_size=1, max_size=4)
_ring = st.lists(st.fixed_dictionaries({"lat": _coord, "lon": _coord}),
                 min_size=3, max_size=4).map(lambda g: g + g[:1])
_ring_refs = st.lists(_ids, min_size=3, max_size=4).map(lambda ns: ns + ns[:1])


def _with_tags(elem: dict, tags: dict) -> dict:
    return {**elem, "tags": tags} if tags else elem


_member = st.one_of(
    st.builds(lambda r, role: {"type": "way", "ref": r, "role": role}, _ids, _role),
    st.builds(lambda r, role, g: {"type": "way", "ref": r, "role": role, "geometry": g},
              _ids, _role, _geometry | _ring),
    st.builds(lambda r, role, ns: {"type": "way", "ref": r, "role": role, "nodes": ns},
              _ids, _role, st.lists(_ids, min_size=1, max_size=4) | _ring_refs),
    st.builds(lambda r: {"type": "node", "ref": r, "role": ""}, _ids),
    st.builds(lambda r, lat, lon, t: {"type": "node", "ref": r, "role": "",
                                      "lat": lat + 0.5, "lon": lon + 0.5, "tags": t},
              _ids, _coord, _coord, _tags),
    st.builds(lambda r: {"type": "relation", "ref": r, "role": ""}, _ids),
)
_element = st.one_of(
    st.builds(lambda i, lat, lon, t: _with_tags(
        {"type": "node", "id": i, "lat": lat, "lon": lon}, t), _ids, _coord, _coord, _tags),
    st.builds(lambda i, ns, t: _with_tags({"type": "way", "id": i, "nodes": ns}, t),
              _ids, st.lists(_ids, min_size=1, max_size=5) | _ring_refs, _tags),
    st.builds(lambda i, g, t: _with_tags({"type": "way", "id": i, "geometry": g}, t),
              _ids, _geometry | _ring, _tags),
    st.builds(lambda i, ms, t: _with_tags({"type": "relation", "id": i, "members": ms}, t),
              _ids, st.lists(_member, max_size=5), _tags),
)


def _xml(elements: list) -> str:
    """OSM XML of generated elements (empty roles left out)."""

    def tags(e):
        return "".join(f'<tag k="{k}" v="{v}"/>' for k, v in e.get("tags", {}).items())

    def nds(e):
        return ("".join(f'<nd lat="{g["lat"]}" lon="{g["lon"]}"/>' for g in e["geometry"])
                if "geometry" in e else "".join(f'<nd ref="{r}"/>' for r in e.get("nodes", ())))

    def member(m):
        attrs = f'type="{m["type"]}" ref="{m["ref"]}"'
        if m["role"]:
            attrs += f' role="{m["role"]}"'
        if "lat" in m:
            attrs += f' lat="{m["lat"]}" lon="{m["lon"]}"'
        inner = nds(m)
        return f"<member {attrs}>{inner}</member>" if inner else f"<member {attrs}/>"

    out = ['<osm version="0.6">']
    for e in elements:
        t = e["type"]
        attrs = f'id="{e["id"]}"'
        if t == "node":
            attrs += f' lat="{e["lat"]}" lon="{e["lon"]}"'
            body = tags(e)
        elif t == "way":
            body = nds(e) + tags(e)
        else:
            body = "".join(member(m) for m in e["members"]) + tags(e)
        out.append(f"<{t} {attrs}>{body}</{t}>" if body else f"<{t} {attrs}/>")
    out.append("</osm>")
    return "\n".join(out)


_document = st.tuples(st.booleans(), st.lists(_element, max_size=12)).map(
    lambda d: _xml(d[1]) if d[0] else json.dumps({"elements": d[1]}))


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(st.lists(_document, min_size=1, max_size=6), st.booleans(), st.booleans(),
       st.booleans())
def test_stream_matches_join_plan(spark, payloads, complete_feature, render_tagged,
                                  exclude_way):
    """Byte for byte the join plan's output (composed from the kept
    operators), on generated JSON and XML documents: dangling way and
    member refs, duplicate ids, inline way and node members, tagged member
    nodes, relation cycles, self-loops and super-relations, every option
    combination including default mode's bare geometry."""
    docs = spark.createDataFrame(
        [(f"d{i}", [{"kind": "text", "text": p, "media_ref": None, "offset": 0}])
         for i, p in enumerate(payloads)], SPAN_SCHEMA)
    opts = Options(complete_feature=complete_feature, render_tagged=render_tagged,
                   exclude_way=exclude_way)
    with CacheScope() as scope:
        got = dict(convert(docs, opts, scope=scope).collect())
    with CacheScope() as scope:
        want = dict(layered_convert(docs, opts, scope, lambda df: df.collect(),
                                    Tracer())[0])
    assert got == want


# ---------------------------------------------------------------------------
# plan shape and output batching
# ---------------------------------------------------------------------------


def test_convert_runs_two_jobs_without_shuffle(spark):
    """One convert() plus collect() over the seed-42 corpus: the eager
    conversion job and the read of its cache, one stage each (a shuffle
    would add a map stage to its job)."""
    docs = generate_documents(spark, 100).persist()
    docs.count()
    sc = spark.sparkContext
    group = "convert-plan-shape"
    sc.setJobGroup(group, group)
    try:
        with CacheScope() as scope:
            rows = convert(docs, Options(complete_feature=True), scope=scope).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        docs.unpersist()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    assert len(rows) == 100
    assert len(jobs) <= 2
    assert len(stages) == len(jobs)


def test_output_frames_flush_by_geojson_size():
    """Frames are cut by accumulated GeoJSON, not per input batch: a
    document whose output crosses the budget closes its frame."""
    opts = Options(complete_feature=True)
    batch = pd.DataFrame({"doc_id": ["a", "b", "c"],
                          "payload": [_doc_payload(i, 42) for i in range(3)]})
    [whole] = list(convert_mod._convert_stream(
        iter([batch.iloc[:1], batch.iloc[1:]]), opts, convert_mod.FLUSH_CHARS))
    assert list(whole["doc_id"]) == ["a", "b", "c"]
    budget = len(whole["geojson"][0]) + 1  # doc a stays under it, doc b crosses it
    frames = list(convert_mod._convert_stream(iter([batch]), opts, budget))
    assert [list(f["doc_id"]) for f in frames] == [["a", "b"], ["c"]]
    assert (pd.concat(frames, ignore_index=True).to_dict("list")
            == whole.to_dict("list"))


def test_tiny_flush_budget_keeps_output(spark, monkeypatch):
    docs = generate_documents(spark, 40, partitions=2)
    opts = Options(complete_feature=True)
    with CacheScope() as scope:
        want = sorted(convert(docs, opts, scope=scope).collect())
    monkeypatch.setattr(convert_mod, "FLUSH_CHARS", 8)
    with CacheScope() as scope:
        assert sorted(convert(docs, opts, scope=scope).collect()) == want
