"""Mega documents: a skewed corpus converts correctly, the
max_doc_instances / max_relation_group_rows caps refuse or skip, and the
join plan's salting leaves the resolved graph unchanged."""

from __future__ import annotations

import pytest

from .conftest import needs_reference, salted_graphs


# ---------------------------------------------------------------------------
# mega-document skew: one document holding most of the corpus's elements
# ---------------------------------------------------------------------------


def test_convert_mega_document_skew(spark):
    """A skewed corpus — one document with 20k nodes + a 2k-member way among
    tiny documents — must convert correctly.  The join plan's explicit
    salting of the hot node-ref join (``resolve_graph(salt=N)``) must
    resolve the identical graph."""
    import json as _json

    from osm2geojson_lite_spark import Options, convert
    from osm2geojson_lite_spark.sources.synth import SPAN_SCHEMA

    n_nodes, way_len = 20000, 2000
    elements = [
        {"type": "node", "id": i + 1,
         "lat": round(-80 + (i % 1600) * 0.1, 7),
         "lon": round(-170 + (i % 3400) * 0.1, 7)}
        for i in range(n_nodes)
    ]
    elements.append({
        "type": "way", "id": 900000,
        "nodes": [i + 1 for i in range(way_len)],
        "tags": {"highway": "trunk"},
    })
    mega = _json.dumps({"elements": elements})
    small = _json.dumps({"elements": [
        {"type": "node", "id": 1, "lat": 1.0, "lon": 2.0,
         "tags": {"name": "tiny"}},
    ]})
    rows = [("mega", [{"kind": "text", "text": mega, "media_ref": None, "offset": 0}])]
    rows += [(f"s{i}", [{"kind": "text", "text": small, "media_ref": None, "offset": 0}])
             for i in range(8)]
    docs = spark.createDataFrame(rows, schema=SPAN_SCHEMA)

    plain = {r["doc_id"]: r["geojson"] for r in convert(
        docs, Options(complete_feature=True)).collect()}
    feats = _json.loads(plain["mega"])["features"]
    way = [f for f in feats if f["id"] == "way/900000"]
    assert len(way) == 1
    assert len(way[0]["geometry"]["coordinates"]) == way_len

    graph, salted = salted_graphs(docs, salt=4)
    assert len(graph["way_coords"]) == 1  # the mega doc's one way
    assert salted == graph  # salting changes the plan, never the rows


def _span_docs(spark, payloads: dict[str, str]):
    from osm2geojson_lite_spark.sources.synth import SPAN_SCHEMA

    rows = [
        (doc_id, [{"kind": "text", "text": p, "media_ref": None, "offset": 0}])
        for doc_id, p in payloads.items()
    ]
    return spark.createDataFrame(rows, SPAN_SCHEMA)


def _mega_relation_json(n_nodes: int) -> str:
    import json as _json

    els = [
        {"type": "node", "id": i, "lat": float(i % 90), "lon": float(i % 180)}
        for i in range(1, n_nodes + 1)
    ]
    els.append({
        "type": "relation", "id": 9000,
        "members": [{"type": "node", "ref": i, "role": ""}
                    for i in range(1, n_nodes + 1)],
        "tags": {"type": "multipolygon"},
    })
    return _json.dumps({"elements": els})


def test_mega_doc_instances_fail(spark):
    """SURVEY §7 hard part 5: a document over max_doc_instances is an
    explicit refusal under the default policy, never a task OOM."""
    import json as _json

    from osm2geojson_lite_spark import MegaDocumentError, Options, convert

    big = _json.dumps({"elements": [
        {"type": "node", "id": i, "lat": 1.0, "lon": 2.0} for i in range(50)
    ]})
    docs = _span_docs(spark, {"mega": big})
    with pytest.raises(MegaDocumentError, match="max_doc_instances"):
        convert(docs, Options(complete_feature=True, max_doc_instances=20))


def test_mega_doc_instances_skip(spark):
    """Policy 'skip': the oversized doc is dropped (empty FeatureCollection
    in complete mode), normal docs are unaffected, and the skip is
    reported through build_features."""
    import json as _json

    from osm2geojson_lite_spark import CacheScope, Options, build_features, convert

    big = _json.dumps({"elements": [
        {"type": "node", "id": i, "lat": 1.0, "lon": 2.0} for i in range(50)
    ]})
    small = _json.dumps({"elements": [
        {"type": "node", "id": 1, "lat": 3.0, "lon": 4.0,
         "tags": {"name": "ok"}},
    ]})
    docs = _span_docs(spark, {"mega": big, "normal": small})
    opts = Options(complete_feature=True, max_doc_instances=20,
                   mega_doc_policy="skip")

    with CacheScope() as scope:
        parts = build_features(docs, opts, scope=scope)
        assert parts["skipped_docs"] == ["mega"]
        out = {r["doc_id"]: _json.loads(r["geojson"])
               for r in convert(docs, opts).collect()}
    assert len(out["mega"]["features"]) == 0
    assert len(out["normal"]["features"]) == 1


def test_mega_relation_group_fail(spark):
    """The relation kernel's per-group input row count is capped: a
    super-relation whose closure x members product blows the cap refuses
    with the (doc, root) named."""
    from osm2geojson_lite_spark import MegaDocumentError, Options, convert

    docs = _span_docs(spark, {"megarel": _mega_relation_json(30)})
    with pytest.raises(MegaDocumentError, match="max_relation_group_rows"):
        convert(docs, Options(complete_feature=True,
                              max_relation_group_rows=10))


def test_mega_relation_group_skip(spark):
    """Policy 'skip' drops only the oversized relation GROUP — the doc's
    other features (untagged member nodes are consumed, but the relation
    row itself disappears) and other docs still emit."""
    import json as _json

    from osm2geojson_lite_spark import Options, convert

    docs = _span_docs(spark, {"megarel": _mega_relation_json(30)})
    out_normal = {r["doc_id"]: _json.loads(r["geojson"])
                  for r in convert(docs, Options(complete_feature=True)).collect()}
    # uncapped: the relation emits (MultiPoint-less geometry aside, >=1 feature)
    assert len(out_normal["megarel"]["features"]) >= 1

    out = {r["doc_id"]: _json.loads(r["geojson"])
           for r in convert(docs, Options(
               complete_feature=True, max_relation_group_rows=10,
               mega_doc_policy="skip")).collect()}
    rel_feats = [f for f in out["megarel"]["features"]
                 if str(f.get("id", "")).startswith("relation")]
    assert rel_feats == []


@needs_reference
def test_default_caps_do_not_trigger(spark):
    """The default caps are far above any real fixture: fixture conversion
    output is byte-identical with bounds on vs off."""
    from osm2geojson_lite_spark import Options, convert
    from osm2geojson_lite_spark.sources.synth import fixture_documents

    docs = fixture_documents(spark).filter(
        "doc_id in ('relation.json', 'map.osm', 'route.osm')"
    ).persist()
    on = {r["doc_id"]: r["geojson"]
          for r in convert(docs, Options(complete_feature=True)).collect()}
    off = {r["doc_id"]: r["geojson"]
           for r in convert(docs, Options(
               complete_feature=True, max_doc_instances=None,
               max_relation_group_rows=None)).collect()}
    docs.unpersist()
    assert on == off


def test_over_cap_roots_listed_in_root_order():
    """``convert_document`` under 'skip' names the over-cap relation roots
    in document order and emits only the roots within the cap."""
    import json as _json

    from osm2geojson_lite_spark.operators.convert import Options, convert_document

    elements = [{"type": "node", "id": i, "lat": i, "lon": i} for i in (1, 2, 3)]
    elements += [{"type": "relation", "id": 10 + i, "tags": {"type": "route"},
                  "members": [{"type": "node", "ref": r, "role": ""} for r in refs]}
                 for i, refs in enumerate([[1, 2], [3], [2, 3]])]
    geojson, n, over = convert_document(
        "d", _json.dumps({"elements": elements}),
        Options(complete_feature=True, max_relation_group_rows=1,
                mega_doc_policy="skip"))
    assert (n, over) == (6, [3, 5])  # instances of relations 10 and 12
    assert [f["id"] for f in _json.loads(geojson)["features"]] == ["node/3"]


def _mega_docs_over_partitions(spark, n_mega: int, n_rel: int = 0):
    """``n_mega`` documents of 50 nodes, ``n_rel`` with a 30-member relation
    and ``n_mega`` small ones, spread over three partitions."""
    import json as _json

    from osm2geojson_lite_spark.sources.synth import SPAN_SCHEMA

    big = _json.dumps({"elements": [
        {"type": "node", "id": i, "lat": 1.0, "lon": 2.0} for i in range(50)]})
    small = _json.dumps({"elements": [{"type": "node", "id": 1, "lat": 3.0, "lon": 4.0}]})
    payloads = [(f"{kind}{i}", p) for i in range(n_mega)
                for kind, p in (("mega", big), ("small", small))]
    payloads += [(f"rel{i}", _mega_relation_json(30)) for i in range(n_rel)]
    rows = [(d, [{"kind": "text", "text": p, "media_ref": None, "offset": 0}])
            for d, p in payloads]
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), SPAN_SCHEMA)


def test_skip_counts_over_cap_items_across_partitions(spark, caplog):
    """Every task reports its own over-cap documents and relation groups:
    spread over three partitions, all are counted and named."""
    from pyspark.sql import functions as F

    from osm2geojson_lite_spark import CacheScope, Options, build_features

    docs = _mega_docs_over_partitions(spark, 5, n_rel=2)
    parts = {r[0] for r in docs.filter(~F.col("doc_id").startswith("small"))
             .select(F.spark_partition_id()).collect()}
    assert len(parts) >= 2
    opts = Options(complete_feature=True, max_doc_instances=40,
                   max_relation_group_rows=10, mega_doc_policy="skip")
    with CacheScope() as scope, caplog.at_level("WARNING"):
        out = build_features(docs, opts, scope=scope)
        assert out["skipped_docs"] == [f"mega{i}" for i in range(5)]
        assert out["skipped_relation_groups"] == [("rel0", 30), ("rel1", 30)]
        assert out["geojson"].count() == 12
    assert "dropping 5 document(s)" in caplog.text
    assert "dropping 2 relation group(s)" in caplog.text


def test_skip_refuses_more_than_the_skip_list_bound(spark, monkeypatch):
    from osm2geojson_lite_spark import MegaDocumentError, Options, convert
    from osm2geojson_lite_spark.operators import convert as convert_mod

    monkeypatch.setattr(convert_mod, "_SKIP_LIST_BOUND", 2)
    docs = _mega_docs_over_partitions(spark, 3)
    with pytest.raises(MegaDocumentError, match="more than 2 documents"):
        convert(docs, Options(max_doc_instances=20, mega_doc_policy="skip"))


def test_tripped_skip_cap_runs_no_extra_job(spark):
    """The over-cap counts and ids ride the job that fills the cache: a
    tripped cap under 'skip' runs one job, no guard job."""
    from osm2geojson_lite_spark import CacheScope, Options, build_features

    docs = _mega_docs_over_partitions(spark, 2, n_rel=1)
    sc = spark.sparkContext
    group = "mega-skip-jobs"
    opts = Options(max_doc_instances=40, max_relation_group_rows=10, mega_doc_policy="skip")
    with CacheScope() as scope:
        sc.setJobGroup(group, group)
        try:
            out = build_features(docs, opts, scope=scope)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    assert out["skipped_docs"] == ["mega0", "mega1"]
    assert out["skipped_relation_groups"] == [("rel0", 30)]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
