"""convert(): the per-document stream against the join plan, its plan
shape and output batching, compile-once sessions, origin-adjacent number
formatting, the golden corpus, cache scopes and feature-id escaping."""

from __future__ import annotations

import json
import os
from pathlib import Path

import pandas as pd
from hypothesis import HealthCheck, given, settings, strategies as st

from osm2geojson_lite_spark import CacheScope, Options, convert
from osm2geojson_lite_spark.operators import convert as convert_mod
from osm2geojson_lite_spark.sources.synth import (
    REFERENCE_EXPECTED_DIR,
    SPAN_SCHEMA,
    _doc_payload,
    fixture_documents,
    generate_documents,
    wrap_payload,
)
from perfbench.layers import Tracer, layered_convert

from .conftest import needs_reference, normalize


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
# span assembly against its former JVM expression
# ---------------------------------------------------------------------------


def _jvm_payload(docs):
    """The span assembly ``assemble_payload`` ran as JVM higher-order
    functions before it moved into the Python kernel: the oracle."""
    from pyspark.sql import functions as F

    text_spans = F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("text"))
    ordered = F.array_sort(
        F.transform(text_spans, lambda s: F.struct(s["offset"].alias("o"), s["text"].alias("t"))))
    payload = F.array_join(F.transform(ordered, lambda s: s["t"]), "")
    return docs.select(F.col("doc_id").cast("string").alias("doc_id"), payload.alias("payload"))


_span = st.one_of(
    st.none(),
    st.fixed_dictionaries({
        "kind": st.sampled_from(["text", "media", None]),
        "text": st.sampled_from(["", "a", "b", "ab", "é", "e", "😀", "z", None]),
        "media_ref": st.sampled_from(["img://x", None]),
        "offset": st.one_of(st.none(), st.integers(-2, 2)),
    }),
)
_spans = st.one_of(st.none(), st.lists(_span, max_size=6))


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(st.lists(_spans, min_size=1, max_size=8))
def test_span_payload_matches_jvm_expression(spark, rows):
    """NULL and empty span arrays, NULL elements, NULL kind, offset and
    text, offsets tied and broken by text (``é`` and ``😀`` sort by code
    point as Spark's UTF-8 bytes do) and media spans: the Python helper
    assembles what the JVM expression did."""
    fixed = [None, [], [None], [{"kind": "media", "text": "m", "media_ref": "img://m", "offset": 0}],
             [{"kind": "text", "text": t, "media_ref": None, "offset": 1} for t in ("😀", "é", "e")],
             [{"kind": "text", "text": t, "media_ref": None, "offset": o}
              for t, o in (("a", 0), (None, 0), ("b", None), ("c", -1))]]
    docs = spark.createDataFrame([(str(i), r) for i, r in enumerate(fixed + rows)], SPAN_SCHEMA)
    want = dict(_jvm_payload(docs).collect())
    assert dict(convert_mod.assemble_payload(docs).collect()) == want
    assert {str(i): convert_mod.span_payload(r) for i, r in enumerate(fixed + rows)} == want


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


def test_convert_driver_round_trips(spark):
    """The driver builds a conversion in few py4j round trips (about 47;
    span assembly as JVM lambdas plus ``DataFrame.observe`` took about
    360).  ``gc`` is off so that no finalizer's delete command lands in the
    count."""
    import gc

    from py4j.clientserver import JavaClient

    docs = generate_documents(spark, 20, partitions=2).persist()
    docs.count()
    send = JavaClient.send_command
    sent = []

    def counting(self, command, *args, **kwargs):
        sent.append(command)
        return send(self, command, *args, **kwargs)

    gc.disable()
    JavaClient.send_command = counting
    try:
        with CacheScope() as scope:
            convert(docs, Options(complete_feature=True), scope=scope)
    finally:
        JavaClient.send_command = send
        gc.enable()
        docs.unpersist()
    assert len(sent) <= 100


def test_output_frames_flush_by_geojson_size():
    """Batches are cut by accumulated GeoJSON, not per input batch: a
    document whose output crosses the budget closes its batch."""
    import pyarrow as pa

    opts = Options(complete_feature=True)
    spans = pa.array([wrap_payload(d, _doc_payload(i, 42))["spans"]
                      for i, d in enumerate("abc")])
    batch = pa.RecordBatch.from_arrays([pa.array(list("abc")), spans], ["doc_id", "spans"])

    def stream(batches, budget):
        reports = []
        out = list(convert_mod._convert_stream(iter(batches), opts, budget, 10, reports.append))
        assert reports == [(0, 0, [], [])]
        return out

    [whole] = stream([batch.slice(0, 1), batch.slice(1)], convert_mod.FLUSH_CHARS)
    assert whole.column("doc_id").to_pylist() == ["a", "b", "c"]
    budget = len(whole.column("geojson")[0].as_py()) + 1  # a stays under it, b crosses it
    frames = stream([batch], budget)
    assert [f.column("doc_id").to_pylist() for f in frames] == [["a", "b"], ["c"]]
    assert pa.Table.from_batches(frames).equals(pa.Table.from_batches([whole]))


def test_tiny_flush_budget_keeps_output(spark, monkeypatch):
    docs = generate_documents(spark, 40, partitions=2)
    opts = Options(complete_feature=True)
    with CacheScope() as scope:
        want = sorted(convert(docs, opts, scope=scope).collect())
    monkeypatch.setattr(convert_mod, "FLUSH_CHARS", 8)
    with CacheScope() as scope:
        assert sorted(convert(docs, opts, scope=scope).collect()) == want


# ---------------------------------------------------------------------------
# feature-id JSON escaping (ADVICE low)
# ---------------------------------------------------------------------------


def test_node_kernel_escapes_feature_id():
    from osm2geojson_lite_spark.operators.assemble import node_features_kernel

    pdf = pd.DataFrame(
        {
            "doc_id": ["d"],
            "out_pos": [0],
            "composite": ['node/1"\\evil'],
            "props_json": ["{}"],
            "tags_json": ["{}"],
            "lon": ["1.5"],
            "lat": ["2.5"],
        }
    )
    [out] = list(node_features_kernel(iter([pdf])))
    feature = json.loads(out["feature_json"][0])  # must be valid JSON
    assert feature["id"] == 'node/1"\\evil'


def test_way_kernel_escapes_feature_id():
    from osm2geojson_lite_spark.operators.assemble import way_features_kernel

    pdf = pd.DataFrame(
        {
            "doc_id": ["d"],
            "out_pos": [0],
            "composite": ['way/"q'],
            "props_json": ["{}"],
            "tags_json": ["{}"],
            "tag_events_json": ["[]"],
            "coords_json": ['[["0","0"],["1","1"]]'],
        }
    )
    [out] = list(way_features_kernel(iter([pdf])))
    feature = json.loads(out["feature_json"][0])
    assert feature["id"] == 'way/"q'


# ---------------------------------------------------------------------------
# committed conversion golden must match the current engine output
# ---------------------------------------------------------------------------


def test_convert_corpus_golden_still_current(spark):
    """Drift guard for tests/golden/convert_corpus_100.json (the
    osm_convert_corpus oracle): converting a sample of the seed-42 corpus
    must reproduce the committed md5s exactly."""
    import json as _json

    from pyspark.sql import functions as F

    from osm2geojson_lite_spark import Options, convert
    from osm2geojson_lite_spark.sources.synth import generate_documents

    with open(Path(__file__).parent / "golden" / "convert_corpus_100.json",
              encoding="utf-8") as f:
        golden = {d: (n, h) for d, n, h in _json.load(f)}
    sample_ids = sorted(golden)[:12]
    docs = generate_documents(spark, 100).filter(F.col("doc_id").isin(sample_ids))
    out = convert(docs, Options(complete_feature=True)).select(
        "doc_id", F.md5("geojson").alias("h")
    ).collect()
    assert len(out) == len(sample_ids)
    for r in out:
        assert r["h"] == golden[r["doc_id"]][1], r["doc_id"]


def _expected(name: str) -> dict:
    with open(os.path.join(REFERENCE_EXPECTED_DIR, name + ".geojson")) as f:
        return json.load(f)


@needs_reference
def test_interleaved_converts_no_cross_unpersist(spark):
    """Two convert() pipelines with explicit scopes interleaved in one
    session: building the second must not unpersist the first's live
    caches, and both outputs stay correct."""
    docs_a = fixture_documents(spark).filter("doc_id = 'relation.json'")
    docs_b = fixture_documents(spark).filter("doc_id = 'route.osm'")

    with CacheScope() as scope_a, CacheScope() as scope_b:
        out_a = convert(docs_a, Options(complete_feature=True), scope=scope_a)
        # building B materializes B's caches while A's scope is live
        out_b = convert(docs_b, Options(complete_feature=True), scope=scope_b)

        # A's persisted intermediates must still be cached
        assert scope_a._cached, "scope A tracked no caches"
        for df in scope_a._cached:
            assert df.storageLevel.useMemory, "scope A cache was unpersisted"

        rows_a = out_a.collect()
        rows_b = out_b.collect()

    assert normalize(json.loads(rows_a[0]["geojson"])) == normalize(
        _expected("relation.json"))
    assert normalize(json.loads(rows_b[0]["geojson"])) == normalize(
        _expected("route.osm"))


@needs_reference
def test_scope_release_unpersists(spark):
    docs = fixture_documents(spark).filter("doc_id = 'way.json'")
    scope = CacheScope()
    convert(docs, Options(complete_feature=True), scope=scope).collect()
    cached = list(scope._cached)
    assert cached
    scope.release()
    for df in cached:
        assert df.storageLevel.useMemory is False


@needs_reference
def test_fused_emit_default_mode_matches_reference(spark):
    """Default mode through the fused emit: relation docs yield the first
    relation's bare geometry; feature-less docs yield an empty collection."""
    docs = fixture_documents(spark).filter(
        "doc_id in ('relation.json', 'empty.json')"
    )
    out = {r["doc_id"]: json.loads(r["geojson"])
           for r in convert(docs, Options(complete_feature=False)).collect()}
    exp = _expected("relation.json")
    # bare geometry == geometry of the first feature of the full collection
    assert normalize(out["relation.json"]) == normalize(exp["features"][0]["geometry"])
    assert out["empty.json"] == {"type": "FeatureCollection", "features": []}
