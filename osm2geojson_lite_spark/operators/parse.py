"""Parse stage: interleaved documents -> normalized element instances.

Covers SURVEY.md §2.1 S1-S5. One Arrow-batched ``mapInPandas`` pass turns each
document's OSM payload (XML or Overpass JSON) into flat *instance* rows — one
row per OSM object the reference would register in its ``RefElements`` catalog
(including ways/nodes created inline for relation members,
``relation.ts:49-62,79-92``). Deferred foreign keys (the reference's
``LateBinder``s) are emitted as *ref slots*.  ``convert()`` resolves them per
document against in-process dicts (``convert.convert_document``); the join
plan's resolve stage executes the same slots as Spark equi-joins.

Semantic parity notes (all against /root/reference):
- XML tokenizer reproduces the regex scan of ``xmlparser.ts:35-109``:
  double-quote attrs first, single-quote only when none matched, self-closed /
  ``?`` / ``!`` detection, first-``</tag>`` inner-content recursion.
- JS truthiness gates are honored: ``"0"`` (string) is truthy in the XML path
  while ``0`` (number) is falsy in the JSON path (``index.ts:128``,
  ``relation.ts:79``).
- Coordinates stay *tokens* (raw attr strings in XML; ``String(number)`` in
  JSON) so endpoint hash-key equality (``utils.ts:16``) matches the reference;
  floats materialize only at emission (``utils.ts:83-89``).
- Registration order is the instance id; the live object per composite id is
  the last registered (JS ``Map.set``), while output position is the first
  registration (``Map`` insertion order), both resolved at the resolve step.
"""

from __future__ import annotations

import json
import math
import re
from typing import Iterator

from ..functions.jsnumber import canonical_json, js_str, parse_float_js
from .assemble import point_feature_json

# ---------------------------------------------------------------------------
# JS-semantics helpers
# ---------------------------------------------------------------------------


def js_truthy(v) -> bool:
    if v is None:
        return False
    if isinstance(v, bool):
        return v
    if isinstance(v, str):
        return v != ""
    if isinstance(v, (int, float)):
        return v != 0 and not (isinstance(v, float) and math.isnan(v))
    return True  # objects / arrays


def token(v):
    """Normalize a coordinate/ref value into its JS-string token."""
    if v is None:
        return None
    if isinstance(v, str):
        return v
    return js_str(v)


def id_text(eid) -> str:
    """``String(id)`` as the reference's template literal formats an element
    id: ``undefined`` for a missing id, JS number text for a JSON number
    (``1.0`` -> ``1``, ``true`` -> ``true``)."""
    if eid is None:
        return "undefined"
    return eid if isinstance(eid, str) else js_str(eid)


def composite_id(etype: str, eid) -> str:
    return f"{etype}/{id_text(eid)}"


# ---------------------------------------------------------------------------
# XML tokenizer (reference xmlparser.ts semantics)
# ---------------------------------------------------------------------------

_NODE_RE = re.compile(r"<([^ >/]+)(.*?)>", re.M)
_ATTR_DQ = re.compile(r'([^ ]+?)="(.+?)"')
_ATTR_SQ = re.compile(r"([^ ]+?)='(.+?)'")


def xml_scan(xml: str, emit, parent=None, path: str = "") -> list:
    """Single-pass regex scan with progressive open/close events."""
    prefix = path + "." if path else ""
    nodes = []
    pos = 0
    while True:
        m = _NODE_RE.search(xml, pos)
        if m is None:
            break
        tag = m.group(1)
        node = {"$tag": tag}
        full = prefix + tag
        attr_text = m.group(2).strip()
        closed = attr_text.endswith("/") or tag.startswith("?") or tag.startswith("!")

        has_attrs = False
        for am in _ATTR_DQ.finditer(attr_text):
            has_attrs = True
            node[am.group(1)] = am.group(2)
        if not has_attrs:
            for am in _ATTR_SQ.finditer(attr_text):
                has_attrs = True
                node[am.group(1)] = am.group(2)
        if not has_attrs and attr_text != "":
            node["text"] = attr_text

        pos = m.end()
        emit(f"<{full}>", node, parent)

        if not closed:
            inner_re = re.compile(r"([\s\S]+?)</" + re.escape(tag) + r">")
            im = inner_re.search(xml, pos)
            if im is not None and im.group(1):
                pos = im.end()
                inner = xml_scan(im.group(1), emit, node, full)
                if inner:
                    node["$innerNodes"] = inner
                else:
                    node["$innerText"] = im.group(1)

        emit(f"</{full}>", node, parent)
        nodes.append(node)
    return nodes


# ---------------------------------------------------------------------------
# Per-document analyzer building instance records
# ---------------------------------------------------------------------------


class _DocState:
    """Parse-time catalog for one document (one RefElements universe)."""

    __slots__ = ("doc_id", "instances", "registry", "first_seq", "seq")

    def __init__(self, doc_id):
        self.doc_id = doc_id
        self.instances: list[dict] = []
        self.registry: dict[str, dict] = {}  # composite -> live instance record
        self.first_seq: dict[str, int] = {}  # composite -> Map insertion position
        self.seq = 0

    def new_instance(self, etype: str, eid, member_created: bool = False) -> dict:
        text = id_text(eid)
        comp = f"{etype}/{text}"
        rec = {
            "doc_id": self.doc_id,
            "inst": self.seq,
            "etype": etype,
            "eid": text,
            "composite": comp,
            "member_created": member_created,
            "has_tag": False,
            "lat": None,
            "lon": None,
            "latlng_set": False,
            "props": {"id": comp},
            "tags": {},
            "tag_events": [],   # ways only: (k, v) in add order, for polytag fold
            "way_slots": [],    # ways: {p, ref|None, lon|None, lat|None}
            "members": [],      # relations: normalized member slots
            "bounds": None,
        }
        self.seq += 1
        self.instances.append(rec)
        self.registry[comp] = rec  # JS Map.set: last registration wins ...
        self.first_seq.setdefault(comp, rec["inst"])  # ... at first-insertion position
        return rec


def _add_tag(rec: dict, k, v) -> None:
    key = k if k is not None else "undefined"
    rec["tags"][key] = v
    rec["has_tag"] = True
    if rec["etype"] == "way":
        rec["tag_events"].append((key, v))


def _add_tags(rec: dict, tags) -> None:
    # wrong-typed `tags` (array/string/number in hand-written Overpass JSON)
    # must not kill the partition: JS `for..in` enumerates array/string
    # indices and yields nothing for primitives — mirror that instead of
    # raising (the reference, a per-document library, would throw here; an
    # engine task cannot afford to)
    if isinstance(tags, dict):
        items = tags.items()
    elif isinstance(tags, (list, str)):
        items = ((str(i), v) for i, v in enumerate(tags))
    else:
        items = ()
    for k, v in items:
        rec["tags"][k] = v
        if rec["etype"] == "way":
            rec["tag_events"].append((k, v))
    rec["has_tag"] = True  # even for {} (JS truthiness of the object)


def _add_member(state: _DocState, rel: dict, member: dict) -> None:
    """Reference ``Relation.addMember`` (relation.ts:30-105)."""
    mtype = member.get("type")
    members = rel["members"]
    p = len(members)
    if mtype == "relation":
        members.append({"p": p, "mtype": "relation", "kind": "ref",
                        "ref": token(member.get("ref")), "inst": None, "role": None})
    elif mtype == "way":
        role = member.get("role")
        if not js_truthy(role):
            role = ""
        else:
            role = str(role)
        geometry = member.get("geometry")
        nodes = member.get("nodes")
        if js_truthy(geometry):
            way = state.new_instance("way", member.get("ref"), member_created=True)
            way["way_slots"] = [
                {"p": i, "ref": None, "lon": token(g.get("lon")), "lat": token(g.get("lat"))}
                for i, g in enumerate(geometry)
            ]
            members.append({"p": p, "mtype": "way", "kind": "inline",
                            "ref": None, "inst": way["inst"], "role": role})
        elif js_truthy(nodes):
            way = state.new_instance("way", member.get("ref"), member_created=True)
            way["way_slots"] = [
                {"p": i, "ref": token(n), "lon": None, "lat": None}
                for i, n in enumerate(nodes)
            ]
            members.append({"p": p, "mtype": "way", "kind": "inline",
                            "ref": None, "inst": way["inst"], "role": role})
        else:
            members.append({"p": p, "mtype": "way", "kind": "ref",
                            "ref": token(member.get("ref")), "inst": None, "role": role})
    elif mtype == "node":
        if js_truthy(member.get("lat")) and js_truthy(member.get("lon")):
            nd = state.new_instance("node", member.get("ref"), member_created=True)
            nd["lon"] = token(member.get("lon"))
            nd["lat"] = token(member.get("lat"))
            nd["latlng_set"] = True
            if js_truthy(member.get("tags")):
                _add_tags(nd, member["tags"])
            for k, v in member.items():
                if k not in ("id", "type", "lat", "lon"):
                    nd["props"][k] = v
            members.append({"p": p, "mtype": "node", "kind": "inline",
                            "ref": None, "inst": nd["inst"], "role": None})
        else:
            members.append({"p": p, "mtype": "node", "kind": "ref",
                            "ref": token(member.get("ref")), "inst": None, "role": None})


# --- JSON path (reference index.ts:53-96) ----------------------------------


def analyze_json(state: _DocState, osm: dict) -> None:
    for elem in osm.get("elements", []):
        etype = elem.get("type")
        if etype == "node":
            nd = state.new_instance("node", elem.get("id"))
            if js_truthy(elem.get("tags")):
                _add_tags(nd, elem["tags"])
            for k, v in elem.items():
                if k not in ("id", "type", "tags", "lat", "lon"):
                    nd["props"][k] = v
            nd["lat"] = token(elem.get("lat"))
            nd["lon"] = token(elem.get("lon"))
            nd["latlng_set"] = True  # setLatLng(elem): object always truthy
        elif etype == "way":
            way = state.new_instance("way", elem.get("id"))
            if js_truthy(elem.get("tags")):
                _add_tags(way, elem["tags"])
            for k, v in elem.items():
                if k not in ("id", "type", "tags", "nodes", "geometry"):
                    way["props"][k] = v
            # non-list geometry/nodes would throw in the reference too
            # (`.forEach` of a primitive); here they must not kill the task
            geom = elem.get("geometry")
            nodes = elem.get("nodes")
            if js_truthy(geom) and isinstance(geom, list):
                way["way_slots"] = [
                    {"p": i, "ref": None,
                     "lon": token(g.get("lon")) if isinstance(g, dict) else None,
                     "lat": token(g.get("lat")) if isinstance(g, dict) else None}
                    for i, g in enumerate(geom)
                ]
            elif js_truthy(nodes) and isinstance(nodes, list):
                way["way_slots"] = [
                    {"p": i, "ref": token(n), "lon": None, "lat": None}
                    for i, n in enumerate(nodes)
                ]
        elif etype == "relation":
            rel = state.new_instance("relation", elem.get("id"))
            b = elem.get("bounds")
            if js_truthy(b):
                if not isinstance(b, dict):
                    b = {}  # JS property access on a primitive -> undefined
                rel["bounds"] = [
                    parse_float_js(b.get("minlon")), parse_float_js(b.get("minlat")),
                    parse_float_js(b.get("maxlon")), parse_float_js(b.get("maxlat")),
                ]
            if js_truthy(elem.get("tags")):
                _add_tags(rel, elem["tags"])
            for k, v in elem.items():
                if k not in ("id", "type", "tags", "bounds", "members"):
                    rel["props"][k] = v
            members = elem.get("members")
            if js_truthy(members) and isinstance(members, list):
                for member in members:
                    _add_member(state, rel, member if isinstance(member, dict) else {})


# --- XML path (reference index.ts:98-187) ----------------------------------


def analyze_xml(state: _DocState, xml: str) -> None:
    def emit(evt: str, node: dict, parent) -> None:
        if evt == "</osm.node>":
            nd = state.new_instance("node", node.get("id"))
            for k, v in node.items():
                if not k.startswith("$") and k not in ("id", "lon", "lat"):
                    nd["props"][k] = v
            nd["lat"] = node.get("lat")
            nd["lon"] = node.get("lon")
            nd["latlng_set"] = True
            for ind in node.get("$innerNodes", []):
                if ind["$tag"] == "tag":
                    _add_tag(nd, ind.get("k"), ind.get("v"))
        elif evt == "</osm.way>":
            way = state.new_instance("way", node.get("id"))
            for k, v in node.items():
                if not k.startswith("$") and k != "id":
                    way["props"][k] = v
            for ind in node.get("$innerNodes", []):
                if ind["$tag"] == "nd":
                    if js_truthy(ind.get("lon")) and js_truthy(ind.get("lat")):
                        way["way_slots"].append(
                            {"p": len(way["way_slots"]), "ref": None,
                             "lon": ind.get("lon"), "lat": ind.get("lat")})
                    elif js_truthy(ind.get("ref")):
                        way["way_slots"].append(
                            {"p": len(way["way_slots"]), "ref": ind.get("ref"),
                             "lon": None, "lat": None})
                elif ind["$tag"] == "tag":
                    _add_tag(way, ind.get("k"), ind.get("v"))
        elif evt == "<osm.relation>":
            state.new_instance("relation", node.get("id"))
        elif evt == "</osm.relation.member>":
            rel = state.registry.get(composite_id("relation", (parent or {}).get("id")))
            if rel is None:
                return
            member = {
                "type": node.get("type"),
                "role": node.get("role") if js_truthy(node.get("role")) else "",
                "ref": node.get("ref"),
            }
            if js_truthy(node.get("lat")) and js_truthy(node.get("lon")):
                member["lat"] = node.get("lat")
                member["lon"] = node.get("lon")
                member["tags"] = {}
                for k, v in node.items():
                    if not k.startswith("$") and k not in ("type", "lat", "lon"):
                        member[k] = v
            inner = node.get("$innerNodes")
            if inner:
                geometry = []
                nodes = []
                for ind in inner:
                    if js_truthy(ind.get("lat")) and js_truthy(ind.get("lon")):
                        geometry.append(ind)
                    elif js_truthy(ind.get("ref")):
                        nodes.append(ind.get("ref"))
                if geometry:
                    member["geometry"] = geometry
                elif nodes:
                    member["nodes"] = nodes
            _add_member(state, rel, member)
        elif evt == "</osm.relation.bounds>":
            rel = state.registry.get(composite_id("relation", (parent or {}).get("id")))
            if rel is not None:
                rel["bounds"] = [
                    parse_float_js(node.get("minlon")), parse_float_js(node.get("minlat")),
                    parse_float_js(node.get("maxlon")), parse_float_js(node.get("maxlat")),
                ]
        elif evt == "</osm.relation.tag>":
            rel = state.registry.get(composite_id("relation", (parent or {}).get("id")))
            if rel is not None:
                _add_tag(rel, node.get("k"), node.get("v"))

    xml_scan(xml, emit)


# ---------------------------------------------------------------------------
# Document-level entry
# ---------------------------------------------------------------------------


def detect_format(payload: str) -> str:
    """Reference ``detectFormat`` (index.ts:40-51) for string payloads."""
    if "<osm" in payload:
        return "xml"
    if payload.strip().startswith("{"):
        return "json-raw"
    return "invalid"


def _analyze(doc_id, payload: str) -> _DocState:
    """One document's catalog: every instance it registers, in order."""
    state = _DocState(doc_id)
    fmt = detect_format(payload)
    if fmt == "json-raw":
        try:
            osm = json.loads(payload)
        except (ValueError, TypeError):
            osm = None
        if isinstance(osm, dict) and js_truthy(osm.get("elements")):
            analyze_json(state, osm)
    elif fmt == "xml":
        analyze_xml(state, payload)
    return state


def _parse_into(doc_id, payload: str, out: dict) -> None:
    """Parse one document, appending instance fields COLUMN-WISE into
    ``out`` (a dict of lists keyed by ``_INSTANCE_COLS``).  The columnar
    form feeds ``pd.DataFrame`` directly — the former one-dict-per-row
    materialization plus pandas' from-records path cost more than the
    parse itself on million-instance corpora."""
    state = _analyze(doc_id, payload)
    registry = state.registry
    first_seq = state.first_seq
    for rec in state.instances:
        comp = rec["composite"]
        members = rec["members"]
        way_slots = rec["way_slots"]
        bounds = rec["bounds"]
        out["doc_id"].append(rec["doc_id"])
        out["inst"].append(rec["inst"])
        out["etype"].append(rec["etype"])
        out["eid"].append(rec["eid"])
        out["composite"].append(comp)
        out["is_live"].append(registry[comp] is rec)
        out["out_pos"].append(first_seq[comp])
        out["member_created"].append(rec["member_created"])
        out["has_tag"].append(rec["has_tag"])
        out["latlng_set"].append(rec["latlng_set"])
        out["lat"].append(rec["lat"])
        out["lon"].append(rec["lon"])
        # canonical (JSON.stringify-compatible) so downstream kernels can
        # concatenate these strings into feature JSON without a re-parse
        props, tags = rec["props"], rec["tags"]
        props_json = canonical_json(props)
        out["props_json"].append(props_json)
        out["tags_json"].append(canonical_json(tags))
        # a node's whole Point feature, so emission is a column projection
        out["point_json"].append(point_feature_json(
            comp, canonical_json({**props, **tags}) if tags else props_json,
            rec["lon"], rec["lat"]) if rec["latlng_set"] else None)
        out["tag_events_json"].append(
            json.dumps(rec["tag_events"], ensure_ascii=False))
        out["roles_json"].append(json.dumps(
            [m["role"] for m in members if m["mtype"] == "way"],
            ensure_ascii=False))
        out["way_slots_json"].append(
            json.dumps(way_slots) if way_slots else None)
        out["members_json"].append(
            json.dumps(members) if members else None)
        out["bounds_json"].append(
            json.dumps(bounds) if bounds is not None else None)


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------

INSTANCE_SCHEMA = (
    "doc_id string, inst long, etype string, eid string, composite string, "
    "is_live boolean, out_pos long, "
    "member_created boolean, has_tag boolean, latlng_set boolean, "
    "lat string, lon string, props_json string, tags_json string, "
    "tag_events_json string, roles_json string, way_slots_json string, "
    "members_json string, bounds_json string, point_json string"
)

_INSTANCE_COLS = [
    "doc_id", "inst", "etype", "eid", "composite", "is_live", "out_pos",
    "member_created", "has_tag",
    "latlng_set", "lat", "lon", "props_json", "tags_json", "tag_events_json",
    "roles_json", "way_slots_json", "members_json", "bounds_json", "point_json",
]


def parse_documents(docs_df):
    """documents(doc_id, payload) -> instances DataFrame.

    Arrow-batched flatMap: each input batch of documents yields exploded
    instance rows. No shuffle; document rows never split across tasks.
    """
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            cols: dict[str, list] = {c: [] for c in _INSTANCE_COLS}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is not None:
                    _parse_into(doc_id, payload, cols)
            yield pd.DataFrame(cols, columns=_INSTANCE_COLS)

    return docs_df.select("doc_id", "payload").mapInPandas(run, schema=INSTANCE_SCHEMA)
