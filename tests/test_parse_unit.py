"""Parser unit tests (no Spark): XML tokenizer + element analyzers."""

from __future__ import annotations

import json

from osm2geojson_lite_spark.functions.jsnumber import canonical_json, js_str, parse_float_js
from osm2geojson_lite_spark.operators.parse import detect_format, xml_scan

from .conftest import parse_document


def collect_events(xml):
    events = []
    xml_scan(xml, lambda evt, node, parent: events.append((evt, dict(node))))
    return events


def test_xml_scan_basic_attrs():
    nodes = xml_scan("<osm><node id='1' lat='1.2' lon='3'/></osm>", lambda *a: None)
    assert nodes[0]["$tag"] == "osm"
    inner = nodes[0]["$innerNodes"]
    assert inner[0]["id"] == "1" and inner[0]["lat"] == "1.2"


def test_xml_scan_double_quotes_preferred():
    nodes = xml_scan('<a x="1" y=\'2\'/>', lambda *a: None)
    # single-quote attrs only parsed when no double-quote attr matched
    assert nodes[0]["x"] == "1" and "y" not in nodes[0]


def test_detect_format():
    assert detect_format("<osm></osm>") == "xml"
    assert detect_format('  {"elements": []}') == "json-raw"
    assert detect_format("nope") == "invalid"
    # '<osm' anywhere wins over JSON shape (reference index.ts:44)
    assert detect_format('{"x": "<osm"}') == "xml"


def test_parse_node_json():
    payload = json.dumps({"elements": [{"type": "node", "id": 1, "lat": 1.234, "lon": 4.321}]})
    rows = parse_document("d", payload)
    assert len(rows) == 1
    r = rows[0]
    assert r["composite"] == "node/1"
    assert r["lat"] == "1.234" and r["lon"] == "4.321"
    assert json.loads(r["props_json"]) == {"id": "node/1"}
    assert r["is_live"] and r["out_pos"] == 0


def test_parse_way_refs_json():
    payload = json.dumps({"elements": [
        {"type": "way", "id": 1, "nodes": [2, 3]},
        {"type": "node", "id": 2, "lat": 0, "lon": 1},
        {"type": "node", "id": 3, "lat": 0, "lon": 1.1},
    ]})
    rows = parse_document("d", payload)
    way = rows[0]
    slots = json.loads(way["way_slots_json"])
    assert [s["ref"] for s in slots] == ["2", "3"]
    # node with lat 0 keeps token "0"
    assert rows[1]["lat"] == "0"


def test_parse_duplicate_composite_last_wins():
    payload = json.dumps({"elements": [
        {"type": "node", "id": 1, "lat": 1, "lon": 1},
        {"type": "node", "id": 1, "lat": 2, "lon": 2},
    ]})
    rows = parse_document("d", payload)
    assert [r["is_live"] for r in rows] == [False, True]
    assert [r["out_pos"] for r in rows] == [0, 0]


def test_parse_relation_members_and_roles():
    payload = json.dumps({"elements": [
        {"type": "relation", "id": 9, "members": [
            {"type": "way", "ref": 1, "role": "outer"},
            {"type": "way", "ref": 2},
            {"type": "node", "ref": 3},
            {"type": "relation", "ref": 4},
            {"type": "way", "ref": 5, "geometry": [{"lat": 1, "lon": 2}, {"lat": 3, "lon": 4}]},
        ]}]})
    rows = parse_document("d", payload)
    rel = rows[0]
    assert rel["etype"] == "relation"
    roles = json.loads(rel["roles_json"])
    assert roles == ["outer", "", ""]  # way members only, missing role -> ''
    members = json.loads(rel["members_json"])
    kinds = [(m["mtype"], m["kind"]) for m in members]
    assert kinds == [("way", "ref"), ("way", "ref"), ("node", "ref"),
                     ("relation", "ref"), ("way", "inline")]
    # inline geometry spawned a member-created way instance
    inline_way = rows[1]
    assert inline_way["etype"] == "way" and inline_way["member_created"]
    slots = json.loads(inline_way["way_slots_json"])
    assert [(s["lon"], s["lat"]) for s in slots] == [("2", "1"), ("4", "3")]


def test_xml_member_with_latlon_gets_tags_prop():
    xml = ("<osm><relation id='7'>"
           "<member type='node' ref='5' role='stop' lat='1' lon='2'/>"
           "</relation></osm>")
    rows = parse_document("d", xml)
    node = [r for r in rows if r["etype"] == "node"][0]
    props = json.loads(node["props_json"])
    assert props["id"] == "node/5"
    assert props["role"] == "stop" and props["ref"] == "5"
    assert props["tags"] == {}
    assert node["has_tag"]  # addTags({}) still sets hasTag (JS truthiness)


def test_js_numbers():
    assert js_str(1.0) == "1"
    assert js_str(1.5) == "1.5"
    assert parse_float_js("1.2abc") == 1.2
    assert parse_float_js("x") != parse_float_js("x")  # NaN
    assert canonical_json({"a": 1.0, "b": 1.25}) == '{"a":1,"b":1.25}'
