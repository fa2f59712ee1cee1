"""Property-based tests (hypothesis) over the pure-Python/numpy kernels.

No Spark session: these exercise the exact code the Arrow kernels run
per-group/per-batch, at hypothesis volume — hundreds of generated cases per
property instead of a handful of fixtures.

Properties:
- ring stitching reassembles any closed ring from arbitrarily split,
  shuffled, and flipped segments (the LateBinder guarantee the relation
  kernel depends on);
- cell encode/decode roundtrip: every point maps into the cell whose bbox
  contains it, parents nest, neighbor sets are symmetric;
- JS-number formatting roundtrips and collapses integral floats exactly as
  the reference's JSON.stringify does;
- shingles/winnowing column logic matches naive Python on any token list;
- the XML event kernel matches the independent scanner on generated trees.
"""

from __future__ import annotations

import json
import math
import re
import shutil
import subprocess

import pytest
from hypothesis import given, settings, strategies as st

from osm2geojson_lite_spark.functions.geometry import ring_direction
from osm2geojson_lite_spark.functions.jsnumber import (
    canonical_json,
    js_number,
    js_str,
    parse_float_js,
)
from osm2geojson_lite_spark.operators.convert import Options, convert_document
from osm2geojson_lite_spark.operators.events import _doc_events
from osm2geojson_lite_spark.operators.parse import composite_id
from osm2geojson_lite_spark.operators.stitch import WayCollection
from osm2geojson_lite_spark.spatial.cells import (
    _RES_SHIFT,
    _X_SHIFT,
    cell_id,
    cell_size_deg,
    np_cell,
)

import numpy as np

from .conftest import parse_document


# ---------------------------------------------------------------------------
# ring stitching
# ---------------------------------------------------------------------------

@st.composite
def split_ring(draw):
    """A closed ring of >=3 distinct integer-grid vertices, split into
    1..n segments, shuffled, each possibly reversed."""
    n = draw(st.integers(3, 12))
    # distinct vertices on a circle (guaranteed simple polygon)
    pts = []
    for i in range(n):
        ang = 2 * math.pi * i / n
        r = 100 + draw(st.integers(0, 50))
        pts.append((round(r * math.cos(ang), 6), round(r * math.sin(ang), 6)))
    ring = pts + [pts[0]]
    # split points
    n_cuts = draw(st.integers(0, min(5, n - 1)))
    cuts = sorted(draw(st.sets(st.integers(1, n - 1), min_size=n_cuts,
                               max_size=n_cuts)))
    bounds = [0] + cuts + [n]
    segs = []
    for a, b in zip(bounds, bounds[1:]):
        seg = ring[a: b + 1]
        segs.append([(js_str(x), js_str(y)) for x, y in seg])
    order = draw(st.permutations(range(len(segs))))
    segs = [segs[i] for i in order]
    flips = draw(st.lists(st.booleans(), min_size=len(segs), max_size=len(segs)))
    segs = [list(reversed(s)) if f else s for s, f in zip(segs, flips)]
    return ring, segs


@given(split_ring())
@settings(max_examples=200, deadline=None)
def test_stitch_reassembles_any_split_ring(case):
    ring, segs = case
    wc = WayCollection()
    for s in segs:
        wc.add_way(s)
    rings = wc.to_rings("counterclockwise")
    assert len(rings) == 1
    got = rings[0]
    assert got[0] == got[-1] and len(got) == len(ring)
    # same cyclic vertex set (orientation/start point may differ)
    assert {tuple(p) for p in got} == {(float(x), float(y)) for x, y in ring}
    assert ring_direction(got) == "counterclockwise"


# ---------------------------------------------------------------------------
# cell index
# ---------------------------------------------------------------------------

lonlat = st.tuples(
    st.floats(min_value=-180.0, max_value=180.0, allow_nan=False,
              allow_infinity=False),
    st.floats(min_value=-90.0, max_value=90.0, allow_nan=False,
              allow_infinity=False),
)


@given(lonlat, st.integers(7, 12))
@settings(max_examples=300, deadline=None)
def test_cell_bbox_contains_point_and_parents_nest(ll, res):
    lon, lat = ll
    cell = int(np_cell(np.array([lon]), np.array([lat]), res)[0])
    r, rem = divmod(cell, _RES_SHIFT)
    x, y = divmod(rem, _X_SHIFT)
    assert r == res
    n = 1 << res
    assert 0 <= x < n and 0 <= y < n
    size_lon, size_lat = 360.0 / n, 180.0 / n
    # bbox containment up to one double rounding step of the scaled
    # transform (the index floor()s the IEEE product, so a point within a
    # ulp of a cell edge may land on either side — deterministically)
    eps = 1e-9
    assert x * size_lon - 180.0 <= lon + eps or x == 0
    assert lon - eps <= (x + 1) * size_lon - 180.0 or x == n - 1
    assert y * size_lat - 90.0 <= lat + eps or y == 0
    assert lat - eps <= (y + 1) * size_lat - 90.0 or y == n - 1
    if res > 7:
        parent = int(np_cell(np.array([lon]), np.array([lat]), res - 1)[0])
        pr, prem = divmod(parent, _RES_SHIFT)
        px, py = divmod(prem, _X_SHIFT)
        # strict nesting only when the point is inside the grid (not clamped)
        if 0 < x < n - 1 and 0 < y < n - 1:
            assert px == x // 2 and py == y // 2
    assert math.isclose(cell_size_deg(res), 180.0 / n)  # lat-axis height
    assert cell_id(x, y, res) == cell


# ---------------------------------------------------------------------------
# JS number formatting
# ---------------------------------------------------------------------------

@given(st.floats(allow_nan=False, allow_infinity=False, width=64))
@settings(max_examples=500, deadline=None)
def test_js_str_roundtrips(v):
    s = js_str(v)
    assert float(s) == v
    if v == int(v) and abs(v) < 1e21:
        assert "." not in s and "e" not in s  # integral collapse, JS parity


NODE = shutil.which("node")
needs_node = pytest.mark.skipif(NODE is None, reason="node (JS reference) absent")


def _node_map(fn: str, values: list) -> list:
    """``values.map(fn)`` evaluated by node; values travel as JSON."""
    script = ("const a=JSON.parse(require('fs').readFileSync(0,'utf8'));"
              f"process.stdout.write(JSON.stringify(a.map({fn})))")
    out = subprocess.run([NODE, "-e", script], input=json.dumps(values),
                         capture_output=True, text=True, check=True, timeout=60)
    return json.loads(out.stdout)


@needs_node
@given(st.lists(st.floats(allow_nan=False, allow_infinity=False, width=64),
                min_size=1, max_size=200))
@settings(max_examples=40, deadline=None)
def test_js_number_matches_node(values):
    assert [js_number(v) for v in values] == _node_map("String", values)


# JSON values with no lone surrogates; ints of any size (JS reads them as
# doubles) and digit keys (JS lists array-index keys first, ascending)
_json_leaf = st.one_of(
    st.floats(allow_nan=False, allow_infinity=False), st.booleans(), st.none(),
    st.integers(), st.text(st.characters(blacklist_categories=("Cs",)), max_size=8))
_json_value = st.recursive(_json_leaf, lambda kids: st.one_of(
    st.lists(kids, max_size=4),
    st.dictionaries(st.from_regex(r"[a-z_:0-9]{1,6}", fullmatch=True), kids, max_size=4)),
    max_leaves=12)


@needs_node
@given(st.lists(_json_value, min_size=1, max_size=20))
@settings(max_examples=40, deadline=None)
def test_canonical_json_matches_node_stringify(objs):
    assert [canonical_json(o) for o in objs] == _node_map("x => JSON.stringify(x)", objs)


@pytest.mark.parametrize("obj, want", [
    ({"b": 1, "1": 2}, '{"1":2,"b":1}'),
    ({"b": 1, "4294967295": 2, "4294967294": 3, "01": 4, "10": 5, "9": 6, "-1": 7},
     '{"9":6,"10":5,"4294967294":3,"b":1,"4294967295":2,"01":4,"-1":7}'),
    ({"\u0663": 1, "a": 2, "0": 3}, '{"0":3,"\u0663":1,"a":2}'),
    ([2**53, 2**53 + 1, -(2**60) - 1], "[9007199254740992,9007199254740992,-1152921504606847000]"),
    ([10**400, -(10**400)], "[null,null]"),
])
def test_canonical_json_fixed_cases(obj, want):
    """What node's ``JSON.stringify(JSON.parse(text))`` prints: array-index
    keys first, ascending (``4294967295`` and ``01`` are not indexes), and
    integers rounded through the double they parse to."""
    assert canonical_json(obj) == want


@pytest.mark.parametrize("x, want", [
    (0.00001, "0.00001"), (1e-7, "1e-7"), (1.5e16, "15000000000000000"),
    (1e21, "1e+21"), (-0.0, "0"), (2.0 ** 60, "1152921504606847000"),
])
def test_js_number_fixed_cases(x, want):
    assert js_number(x) == want
    assert js_str(x) == want
    assert canonical_json([x]) == f"[{want}]"


@needs_node
@given(st.lists(st.one_of(st.integers(-(2**70), 2**70), st.booleans(),
                          st.floats(allow_nan=False, allow_infinity=False)),
                min_size=1, max_size=100))
@settings(max_examples=40, deadline=None)
def test_js_str_and_composite_id_match_node(values):
    """Element ids and ref tokens format as JS ``String()`` and the
    reference's `${type}/${id}` template: 1.0 -> 1, true -> true, an
    integer above 2**53 rounded through the double it parses to."""
    assert [js_str(v) for v in values] == _node_map("String", values)
    assert ([composite_id("node", v) for v in values]
            == _node_map("v => `node/${v}`", values))


@pytest.mark.parametrize("v, want", [
    (1.0, "1"), (True, "true"), (2**53 + 1, "9007199254740992"),
    (1152921504606846977, "1152921504606847000"), (-(10**400), "-Infinity"),
])
def test_js_str_fixed_ids(v, want):
    assert js_str(v) == want
    assert composite_id("way", v) == f"way/{want}"


@needs_node
def test_way_ref_resolves_float_node_id():
    """A way listing node 1 finds the node registered with id 1.0: both
    read as the JS number 1 (node computes the composite ids)."""
    elements = [
        {"type": "node", "id": 1.0, "lat": 1, "lon": 2},
        {"type": "node", "id": 2, "lat": 3, "lon": 4},
        {"type": "way", "id": 3, "nodes": [1, 2], "tags": {"highway": "path"}},
    ]
    payload = json.dumps({"elements": elements})
    assert [r["composite"] for r in parse_document("d", payload)] == _node_map(
        "e => `${e.type}/${e.id}`", json.loads(payload)["elements"])
    geojson, _, _ = convert_document("d", payload, Options(complete_feature=True))
    assert [(f["id"], f["geometry"]["coordinates"]) for f in json.loads(geojson)["features"]
            ] == [("way/3", [[2, 1], [4, 3]])]


def test_non_finite_numbers_are_json_null():
    assert canonical_json({"a": math.nan, "b": [math.inf, -math.inf]}) == '{"a":null,"b":[null,null]}'
    assert js_number(math.nan) == "NaN" and js_number(-math.inf) == "-Infinity"


@given(st.floats(min_value=-1e9, max_value=1e9, allow_nan=False))
@settings(max_examples=300, deadline=None)
def test_parse_float_js_matches_float_for_plain_tokens(v):
    tok = repr(v)
    assert parse_float_js(tok) == float(tok)


@given(st.recursive(
    st.one_of(st.integers(-10**6, 10**6),
              st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
              st.text(max_size=12), st.booleans(), st.none()),
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.text(max_size=6), children, max_size=4)),
    max_leaves=12,
))
@settings(max_examples=200, deadline=None)
def test_canonical_json_is_valid_json_with_collapsed_integrals(obj):
    s = canonical_json(obj)
    back = json.loads(s)

    def collapse(o):
        if isinstance(o, bool) or o is None or isinstance(o, str):
            return o
        if isinstance(o, float) and o == int(o) and abs(o) < 1e21:
            return int(o)
        if isinstance(o, list):
            return [collapse(x) for x in o]
        if isinstance(o, dict):
            return {k: collapse(v) for k, v in o.items()}
        return o

    assert back == collapse(obj)


# ---------------------------------------------------------------------------
# XML event kernel vs independent scanner on generated trees
# ---------------------------------------------------------------------------

tag_name = st.from_regex(r"[a-z][a-z0-9]{0,5}", fullmatch=True)
attr_val = st.from_regex(r"[a-zA-Z0-9_.:-]{1,8}", fullmatch=True)


@st.composite
def xml_tree(draw, depth=0):
    tag = draw(tag_name)
    attrs = draw(st.dictionaries(tag_name, attr_val, max_size=3))
    attr_s = "".join(f' {k}="{v}"' for k, v in attrs.items())
    if depth >= 2 or draw(st.booleans()):
        return f"<{tag}{attr_s}/>"
    n_kids = draw(st.integers(0, 3))
    kids = "".join(draw(xml_tree(depth + 1)) for _ in range(n_kids))
    if not kids and draw(st.booleans()):
        kids = draw(st.from_regex(r"[a-z ]{1,10}", fullmatch=True))
    return f"<{tag}{attr_s}>{kids}</{tag}>"


@given(st.lists(xml_tree(), min_size=1, max_size=4))
@settings(max_examples=200, deadline=None)
def test_event_kernel_matches_independent_scanner(trees):
    from tests.test_xml_events import _ref_events

    xml = "".join(trees)
    got = _doc_events("d", xml)
    expected = _ref_events(xml, "d")
    assert got == expected


# ---------------------------------------------------------------------------
# parse robustness: a corrupt/adversarial document must never raise
# (100 TB posture — one bad doc cannot kill a partition)
# ---------------------------------------------------------------------------

from osm2geojson_lite_spark.operators.parse import INSTANCE_SCHEMA

_INSTANCE_FIELDS = [f.split()[0] for f in INSTANCE_SCHEMA.split(", ")]


@given(st.text(max_size=400))
@settings(max_examples=400, deadline=None)
def test_parse_never_raises_on_arbitrary_text(payload):
    rows = parse_document("d", payload)
    for r in rows:
        assert set(r) == set(_INSTANCE_FIELDS)
        assert r["composite"] == f"{r['etype']}/{r['eid'] if r['eid'] is not None else 'undefined'}"


@st.composite
def osmish_payload(draw):
    """Adversarial near-OSM payloads: valid JSON with wrong-typed fields,
    truncated XML, mixed garbage around real elements."""
    kind = draw(st.integers(0, 2))
    if kind == 0:
        elems = draw(st.lists(st.fixed_dictionaries({}, optional={
            "type": st.sampled_from(["node", "way", "relation", "bogus", 7]),
            "id": st.one_of(st.integers(-5, 5), st.text(max_size=3), st.none()),
            "lat": st.one_of(st.floats(allow_nan=True, allow_infinity=True),
                             st.text(max_size=4), st.none()),
            "lon": st.one_of(st.floats(allow_nan=True, allow_infinity=True),
                             st.text(max_size=4)),
            "nodes": st.one_of(st.lists(st.integers(-3, 3), max_size=4),
                               st.integers(), st.text(max_size=3)),
            "tags": st.one_of(st.dictionaries(st.text(max_size=3),
                                              st.text(max_size=3), max_size=3),
                              st.lists(st.integers(), max_size=2), st.none()),
            "members": st.one_of(
                st.lists(st.fixed_dictionaries({}, optional={
                    "type": st.sampled_from(["node", "way", "relation"]),
                    "ref": st.integers(-3, 3),
                    "role": st.text(max_size=5),
                }), max_size=3),
                st.integers(), st.none()),
        }), max_size=5))
        return json.dumps({"elements": elems})
    if kind == 1:
        base = ("<osm><node id='1' lat='1' lon='2'/><way id='3'>"
                "<nd ref='1'/></way><relation id='4'>"
                "<member type='way' ref='3' role='outer'/></relation></osm>")
        cut = draw(st.integers(0, len(base)))
        return base[:cut]
    noise = draw(st.text(max_size=30))
    return f"<osm>{noise}<node id='9' lat='x' lon=''/></osm>"


@given(osmish_payload())
@settings(max_examples=400, deadline=None)
def test_parse_never_raises_on_adversarial_osm(payload):
    rows = parse_document("d", payload)
    # finalized rows must always be JSON-serializable column values
    for r in rows:
        json.loads(r["props_json"])
        json.loads(r["tags_json"])
        if r["point_json"] is not None:
            json.loads(r["point_json"])


# ---------------------------------------------------------------------------
# PIP: vectorized numpy twin == scalar reference kernel; degenerate safety
# ---------------------------------------------------------------------------

from osm2geojson_lite_spark.functions.geometry import (
    is_ring,
    point_inside_polygon,
    ring_direction,
)
from osm2geojson_lite_spark.spatial.pip import points_inside_polygon

coord = st.floats(min_value=-50, max_value=50, allow_nan=False)


@given(
    st.lists(st.tuples(coord, coord), min_size=3, max_size=8, unique=True),
    st.lists(st.tuples(coord, coord), min_size=1, max_size=40),
)
@settings(max_examples=300, deadline=None)
def test_vectorized_pip_matches_scalar(poly_pts, query_pts):
    ring = [list(p) for p in poly_pts] + [list(poly_pts[0])]
    want = [point_inside_polygon(list(q), ring) for q in query_pts]
    got = points_inside_polygon(
        np.asarray(query_pts, dtype=np.float64), np.asarray(ring, dtype=np.float64)
    )
    assert list(got) == want


@given(st.lists(st.tuples(coord, coord), min_size=1, max_size=8))
@settings(max_examples=300, deadline=None)
def test_ring_helpers_never_raise_on_degenerate_input(pts):
    ring = [list(p) for p in pts] + [list(pts[0])]
    assert is_ring(ring) == (len(ring) >= 4)
    if len(ring) >= 4:
        assert ring_direction(ring) in ("clockwise", "counterclockwise")
    # repeated / collinear points
    flat = [[0.0, 0.0], [1.0, 0.0], [2.0, 0.0], [0.0, 0.0]]
    assert ring_direction(flat) in ("clockwise", "counterclockwise")
