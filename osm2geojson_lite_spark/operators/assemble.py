"""Assembly stage: resolved graph -> GeoJSON feature rows.

Feature assembly (SURVEY.md §2.4 A5-A9, §2.3 J5/J7):
- node features (``node.ts:19-32``) — Point emission with props∪tags merge
  (tags win, ``osm-object.ts:50-52``): :func:`point_feature_json`, which the
  parse kernel calls once per node, so the conversion emits Points with a
  plain column projection and no kernel stage.
- way features (``way.ts:57-100``) — LineString, upgraded to CCW Polygon when
  the polytag fold says polygon and the float ring closes.
- relation features (``relation.ts:108-243``) — per-(doc, root-relation)
  groups of a sorted ``mapInPandas`` stream: memoized super-relation
  flatten, greedy endpoint stitching, winding normalization, inner→outer
  containment, and the polygons→strings→points emission order.

All kernels return feature rows ``(doc_id, out_pos, sub_seq, feature_id,
geom_type, feature_json, geometry_json)``; ordering columns replay the
reference's Map-insertion output order after Spark shuffles.
"""

from __future__ import annotations

import json
from json.encoder import encode_basestring as _json_str
from typing import Iterator

from ..functions.geometry import is_ring, point_inside_polygon, ring_direction
from ..functions.jsnumber import canonical_json, json_number, parse_float_js
from ..functions.polytags import classify_is_polygon
from .stitch import WayCollection

FEATURE_SCHEMA = (
    "doc_id string, out_pos long, sub_seq int, feature_id string, "
    "geom_type string, feature_json string, geometry_json string"
)

_FEATURE_COLS = [
    "doc_id", "out_pos", "sub_seq", "feature_id", "geom_type",
    "feature_json", "geometry_json",
]


def merge_props(props_json: str, tags_json: str) -> dict:
    """getProps(): tags overwrite props, insertion order preserved."""
    props = json.loads(props_json) if isinstance(props_json, str) else {}
    tags = json.loads(tags_json) if isinstance(tags_json, str) else {}
    props.update(tags)
    return props


def merged_props_json(props_json: str, tags_json: str) -> str:
    """Canonical JSON of getProps().  Fast path: parse emits canonical
    strings, so a tag-less element's properties pass through without a
    JSON round-trip (the overwhelmingly common case)."""
    if not isinstance(tags_json, str) or tags_json == "{}":
        return props_json if isinstance(props_json, str) else "{}"
    return canonical_json(merge_props(props_json, tags_json))


# ---------------------------------------------------------------------------
# Node features (A9)
# ---------------------------------------------------------------------------


def build_node_feature(composite, props_json, tags_json, lon, lat) -> dict:
    return {
        "type": "Feature",
        "id": composite,
        "properties": merge_props(props_json, tags_json),
        "geometry": {
            "type": "Point",
            "coordinates": [parse_float_js(lon), parse_float_js(lat)],
        },
    }


def point_feature_json(composite, props_json, lon, lat) -> str:
    """Point feature JSON by direct string assembly — byte-identical to
    ``canonical_json(build_node_feature(...))`` (pinned by a unit test)
    without the per-row JSON round-trip.  ``props_json`` is the canonical
    merged properties (:func:`merged_props_json`); ``lon``/``lat`` are the
    coordinate tokens."""
    return (f'{{"type":"Feature","id":{_json_str(composite)},"properties":{props_json},'
            f'"geometry":{{"type":"Point","coordinates":['
            f"{json_number(parse_float_js(lon))},{json_number(parse_float_js(lat))}]}}}}")


def node_features_kernel(batches) -> Iterator:
    """``mapInPandas`` body emitting one Point feature row per node row
    (``geometry_json`` NULL: emit reads it only for relation rows).
    ``convert`` takes the parse-time ``point_json`` column instead."""
    import pandas as pd

    for pdf in batches:
        feats = [
            point_feature_json(comp, merged_props_json(pj, tj), lon, lat)
            for comp, pj, tj, lon, lat in zip(
                pdf["composite"], pdf["props_json"], pdf["tags_json"],
                pdf["lon"], pdf["lat"])
        ]
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"], "out_pos": pdf["out_pos"], "sub_seq": 0,
            "feature_id": pdf["composite"], "geom_type": "Point",
            "feature_json": feats, "geometry_json": None,
        }, columns=_FEATURE_COLS)


# ---------------------------------------------------------------------------
# Way features (A8 + P5)
# ---------------------------------------------------------------------------


def build_way_feature(composite, props_json, tags_json, tag_events_json, coords_json):
    coords_tokens = json.loads(coords_json) if coords_json else []
    if len(coords_tokens) <= 1:
        return None
    coords = [[parse_float_js(c[0]), parse_float_js(c[1])] for c in coords_tokens]
    feature = {
        "type": "Feature",
        "id": composite,
        "properties": merge_props(props_json, tags_json),
        "geometry": {"type": "LineString", "coordinates": coords},
    }
    tag_events = json.loads(tag_events_json) if tag_events_json else []
    if classify_is_polygon(tag_events) and is_ring(coords):
        if ring_direction(coords) != "counterclockwise":
            coords.reverse()
        feature["geometry"] = {"type": "Polygon", "coordinates": [coords]}
    return feature


def way_feature(composite, props_json: str, tag_events, coords_tokens) -> tuple:
    """``(geom_type, feature_json, geometry_json)`` of one way with at least
    two ``coords_tokens`` (``[lon, lat]`` token pairs): a LineString, or a
    CCW Polygon when the polytag fold over ``tag_events`` says polygon and
    the float ring closes.  Direct string assembly, the same output as
    ``canonical_json(build_way_feature(...))``."""
    coords = [[parse_float_js(c[0]), parse_float_js(c[1])] for c in coords_tokens]
    geom_type = "LineString"
    if classify_is_polygon(tag_events) and is_ring(coords):
        geom_type = "Polygon"
        if ring_direction(coords) != "counterclockwise":
            coords.reverse()
    pts = ",".join(f"[{json_number(x)},{json_number(y)}]" for x, y in coords)
    if geom_type == "Polygon":
        geom = f'{{"type":"Polygon","coordinates":[[{pts}]]}}'
    else:
        geom = f'{{"type":"LineString","coordinates":[{pts}]}}'
    return geom_type, (f'{{"type":"Feature","id":{_json_str(composite)},'
                       f'"properties":{props_json},"geometry":{geom}}}'), geom


def way_features_kernel(batches) -> Iterator:
    """``mapInPandas`` body emitting one :func:`way_feature` row per way row
    with two or more resolved coordinates."""
    import pandas as pd

    for pdf in batches:
        out = {k: [] for k in _FEATURE_COLS}
        for doc_id, out_pos, comp, pj, tj, tev, cj in zip(
            pdf["doc_id"], pdf["out_pos"], pdf["composite"], pdf["props_json"],
            pdf["tags_json"], pdf["tag_events_json"], pdf["coords_json"],
        ):
            coords_tokens = json.loads(cj) if isinstance(cj, str) else []
            if len(coords_tokens) <= 1:
                continue
            geom_type, feature_json, geom = way_feature(
                comp, merged_props_json(pj, tj),
                json.loads(tev) if isinstance(tev, str) else [], coords_tokens)
            out["doc_id"].append(doc_id)
            out["out_pos"].append(out_pos)
            out["sub_seq"].append(0)
            out["feature_id"].append(comp)
            out["geom_type"].append(geom_type)
            out["feature_json"].append(feature_json)
            out["geometry_json"].append(geom)
        yield pd.DataFrame(out, columns=_FEATURE_COLS)


# ---------------------------------------------------------------------------
# Relation features (A2-A7, J5, J7)
# ---------------------------------------------------------------------------


def _construct_string_geometry(wc: WayCollection):
    strings = wc.merge_ways()
    if not strings:
        return None
    return {"type": "MultiLineString", "coordinates": strings}


def _construct_polygon_geometry(outer: WayCollection, inner: WayCollection):
    outer_rings = outer.to_rings("counterclockwise")
    inner_rings = inner.to_rings("clockwise")
    if not outer_rings:
        return None
    composites = [[ring] for ring in outer_rings]
    for ring in inner_rings:  # FIFO; unclaimed inner rings silently dropped
        for idx, oring in enumerate(outer_rings):
            if point_inside_polygon(ring[0], oring):
                composites[idx].append(ring)
                break
    if len(composites) == 1:
        return {"type": "Polygon", "coordinates": composites[0]}
    return {"type": "MultiPolygon", "coordinates": composites}


def _collect_ways(rels: dict, root: int, max_depth: int = 64):
    """Memoized DFS flatten (relation.ts:161-184): own ways first, then each
    sub-relation's flattened list in member order. Depth/cycle capped."""
    memo: dict[int, tuple] = {}
    visiting: set[int] = set()

    def rec(ri: int, depth: int):
        e = rels[ri]
        ways = list(e["ways"])
        roles = list(e["roles"])
        if not e["subs"]:
            memo[ri] = (ways, roles)
            return
        for child in e["subs"]:
            if child is None or child not in rels or child in visiting or depth >= max_depth:
                continue
            if child not in memo:
                visiting.add(ri)
                rec(child, depth + 1)
                visiting.discard(ri)
            ew, er = memo.get(child, ([], []))
            for i in range(len(ew)):
                ways.append(ew[i])
                roles.append(er[i] if i < len(er) else None)
        memo[ri] = (ways, roles)

    rec(root, 0)
    return memo[root]


def assemble_relation(rels: dict, root: int) -> list[dict]:
    """Replay Relation.toFeatureArray for one root; returns feature dicts."""
    e = rels.get(root)
    if e is None:
        return []
    ways, roles = _collect_ways(rels, root)

    template = {"type": "Feature", "id": e["composite"]}
    if e["bounds"] is not None:
        template["bbox"] = e["bounds"]
    template["properties"] = merge_props(e["props_json"], e["tags_json"])
    template["geometry"] = None

    polygon_features: list[dict] = []
    string_features: list[dict] = []
    point_features: list[dict] = []

    # polygon mode keyed on the relation's DIRECT roles only (relation.ts:207)
    if any(r == "outer" for r in e["roles"]):
        outer, inner = WayCollection(), WayCollection()
        for i, w in enumerate(ways):
            role = roles[i] if i < len(roles) else None
            if role == "outer":
                outer.add_way(w)
            elif role == "inner":
                inner.add_way(w)
            # other roles dropped in polygon mode (relation.ts:210-218)
        geometry = _construct_polygon_geometry(outer, inner)
        if geometry is not None:
            feature = dict(template)
            feature["geometry"] = geometry
            polygon_features.append(feature)
    else:
        wc = WayCollection()
        for w in ways:
            wc.add_way(w)
        geometry = _construct_string_geometry(wc)
        if geometry is not None:
            feature = dict(template)
            feature["geometry"] = geometry
            string_features.append(feature)

    for comp, props_json, tags_json, lon, lat in e["nodes"]:
        point_features.append(build_node_feature(comp, props_json, tags_json, lon, lat))

    return polygon_features + string_features + point_features


def relation_kernel(pdf):
    """Kernel body over one or more complete (doc_id, root_inst) groups.

    One vectorized sort by (doc_id, root_inst, rel_inst, m_p) replaces the
    former nested ``pandas.groupby`` + per-subgroup ``sort_values`` (the
    per-group pandas machinery dominated the stage); a single plain-Python
    sweep over the column arrays then builds each group's ``rels`` catalog.
    Group/sub-group iteration order only feeds dict *insertion* (lookups are
    by key) and member rows stay in ``m_p`` order exactly as before, so the
    emitted feature rows are byte-identical to the per-group formulation.
    """
    import pandas as pd

    n = len(pdf)
    if n == 0:
        return pd.DataFrame({k: [] for k in _FEATURE_COLS})
    pdf = pdf.sort_values(["doc_id", "root_inst", "rel_inst", "m_p"],
                          kind="stable")
    doc_a = pdf["doc_id"].to_numpy()
    root_a = pdf["root_inst"].to_numpy()
    rel_a = pdf["rel_inst"].to_numpy()
    out_pos_a = pdf["out_pos"].to_numpy()
    mtype_a = pdf["m_mtype"].to_numpy()
    coords_a = pdf["coords_json"].to_numpy()
    child_a = pdf["child_inst"].to_numpy()
    ncomp_a = pdf["node_comp"].to_numpy()
    nprops_a = pdf["node_props_json"].to_numpy()
    ntags_a = pdf["node_tags_json"].to_numpy()
    nlon_a = pdf["node_lon"].to_numpy()
    nlat_a = pdf["node_lat"].to_numpy()
    comp_a = pdf["composite"].to_numpy()
    props_a = pdf["props_json"].to_numpy()
    tags_a = pdf["tags_json"].to_numpy()
    roles_a = pdf["roles_json"].to_numpy()
    bounds_a = pdf["bounds_json"].to_numpy()

    out: dict[str, list] = {k: [] for k in _FEATURE_COLS}
    i = 0
    while i < n:
        d0 = doc_a[i]
        r0 = root_a[i]
        rels: dict[int, dict] = {}
        j = i
        while j < n and doc_a[j] == d0 and root_a[j] == r0:
            ri = int(rel_a[j])
            entry = rels.get(ri)
            if entry is None:
                rj = roles_a[j]
                bj = bounds_a[j]
                entry = {
                    "composite": comp_a[j],
                    "props_json": props_a[j],
                    "tags_json": tags_a[j],
                    "roles": json.loads(rj) if rj else [],
                    "bounds": json.loads(bj) if bj else None,
                    "ways": [],
                    "subs": [],
                    "nodes": [],
                }
                rels[ri] = entry
            mt = mtype_a[j]
            if mt == "way":
                cj = coords_a[j]
                entry["ways"].append(
                    json.loads(cj) if isinstance(cj, str) else [])
            elif mt == "relation":
                ci = child_a[j]
                entry["subs"].append(int(ci) if ci == ci else None)
            elif mt == "node":
                entry["nodes"].append(
                    (ncomp_a[j], nprops_a[j], ntags_a[j], nlon_a[j], nlat_a[j]))
            j += 1

        out_pos = int(out_pos_a[i])
        for sub_seq, feature in enumerate(assemble_relation(rels, int(r0))):
            geom = feature.get("geometry")
            out["doc_id"].append(d0)
            out["out_pos"].append(out_pos)
            out["sub_seq"].append(sub_seq)
            out["feature_id"].append(feature.get("id"))
            out["geom_type"].append(geom["type"] if geom else None)
            out["feature_json"].append(canonical_json(feature))
            out["geometry_json"].append(canonical_json(geom))
        i = j

    return pd.DataFrame(out, columns=_FEATURE_COLS)


def relation_kernel_stream(batches):
    """``mapInPandas`` body over a partition hash-partitioned AND sorted by
    (doc_id, root_inst): groups are contiguous within the partition, so every
    Arrow batch holds complete groups except possibly its last, which is
    carried into the next batch.  Same per-group results as
    :func:`relation_kernel` at ~1 Python call per Arrow batch instead of one
    per group (the former ``applyInPandas`` paid call + pandas-frame overhead
    per tiny group).  Memory: one group buffered across batch boundaries at
    most — bounded by ``Options.max_relation_group_rows``."""
    import pandas as pd

    carry = None
    for pdf in batches:
        if carry is not None and len(carry):
            pdf = pd.concat([carry, pdf], ignore_index=True)
        carry = None
        n = len(pdf)
        if n == 0:
            continue
        doc_a = pdf["doc_id"].to_numpy()
        root_a = pdf["root_inst"].to_numpy()
        last_doc = doc_a[n - 1]
        last_root = root_a[n - 1]
        i = n - 1
        while i > 0 and doc_a[i - 1] == last_doc and root_a[i - 1] == last_root:
            i -= 1
        carry = pdf.iloc[i:]
        if i > 0:
            yield relation_kernel(pdf.iloc[:i])
    if carry is not None and len(carry):
        yield relation_kernel(carry)
