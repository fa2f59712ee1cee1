"""S3 progressive event bus: stream parity + conditional-listener DSL.

Event stream semantics pinned against an independent in-test scanner that
follows ``xmlparser.ts:35-109`` directly (open before inner recursion, close
after, dot-joined paths, attr capture incl. single-quote fallback and bare
text); the DSL grammar against ``xmlparser.ts:1-16``.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from osm2geojson_lite_spark.operators.events import (
    condition_to_sql,
    parse_event,
    subscribe,
    xml_events,
)
from osm2geojson_lite_spark.sources.synth import REFERENCE_DATA_DIR as DATA, fixture_documents
from osm2geojson_lite_spark.operators.convert import assemble_payload

from .conftest import needs_reference


# --- independent reference scanner (xmlparser.ts:35-109 re-read) -----------

def _ref_events(xml, doc_id):
    out = []
    node_re = re.compile(r"<([^ >/]+)(.*?)>", re.M)

    def scan(text, prefix):
        pos = 0
        while True:
            m = node_re.search(text, pos)
            if m is None:
                return
            tag = m.group(1)
            full = (prefix + "." if prefix else "") + tag
            at = m.group(2).strip()
            closed = at.endswith("/") or tag[0] in "?!"
            attrs = dict(re.findall(r'([^ ]+?)="(.+?)"', at))
            if not attrs:
                attrs = dict(re.findall(r"([^ ]+?)='(.+?)'", at))
            if not attrs and at:
                attrs = {"text": at}
            pos = m.end()
            out.append((doc_id, len(out), "open", full, tag, dict(attrs), None))
            inner_text = None
            if not closed:
                im = re.compile(r"([\s\S]+?)</" + re.escape(tag) + ">").search(text, pos)
                if im and im.group(1):
                    pos = im.end()
                    n_before = len(out)
                    scan(im.group(1), full)
                    if len(out) == n_before:
                        inner_text = im.group(1)
            out.append((doc_id, len(out), "close", full, tag, dict(attrs), inner_text))

    scan(xml, "")
    return out


def _xml_fixture_names():
    return sorted(n for n in os.listdir(DATA) if n.endswith(".osm"))


@needs_reference
def test_event_stream_matches_reference_scan(spark):
    docs = fixture_documents(spark)
    got = (
        xml_events(assemble_payload(docs))
        .collect()
    )
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(
            (r.doc_id, r.seq, r.phase, r.path, r.tag, dict(r.attrs), r.inner_text)
        )
    names = _xml_fixture_names()
    assert set(by_doc) == set(names)  # XML fixtures only, no JSON docs
    for name in names:
        with open(os.path.join(DATA, name), encoding="utf-8") as f:
            expected = _ref_events(f.read(), name)
        rows = sorted(by_doc[name], key=lambda t: t[1])
        assert rows == expected, name


def test_open_event_snapshots_pre_recursion_state(spark):
    # the open emission fires before inner parsing: inner_text must be None
    doc = [("d1", "<a k='v'><b/></a>")]
    df = spark.createDataFrame(doc, "doc_id string, payload string")
    rows = {(r.phase, r.path): r for r in xml_events(df).collect()}
    assert rows[("open", "a")].inner_text is None
    assert rows[("open", "a")].attrs == {"k": "v"}
    assert rows[("open", "a.b")].seq == 1  # child opens before parent closes
    assert rows[("close", "a")].seq == 3


def test_parse_event_grammar():
    assert parse_event("<osm.way>") == ("open", "osm.way", None)
    assert parse_event("</osm.way>") == ("close", "osm.way", None)
    assert parse_event('<osm.node[$id=="5"]>') == ("open", "osm.node", '$id=="5"')
    assert parse_event("</osm.way[$tag=='way']>") == ("close", "osm.way", "$tag=='way'")
    with pytest.raises(ValueError):
        parse_event("osm.way")


def test_condition_to_sql_translation():
    assert condition_to_sql("$tag=='way'") == "tag = 'way'"
    assert condition_to_sql('$role!="inner"') == "element_at(attrs, 'role') <> 'inner'"
    assert (
        condition_to_sql("$lat>40 && $lon<=9")
        == "cast(element_at(attrs, 'lat') as double) > 40 AND "
           "cast(element_at(attrs, 'lon') as double) <= 9"
    )


def test_conditioned_subscription_filters(spark):
    xml = (
        "<osm><node id='1' lat='41.5' lon='2'/>"
        "<node id='2' lat='39.0' lon='2'/>"
        "<way id='3'><nd ref='1'/><nd ref='2'/></way></osm>"
    )
    df = spark.createDataFrame([("d", xml)], "doc_id string, payload string")
    ev = xml_events(df)
    hot = subscribe(ev, "<osm.node[$lat>40]>").collect()
    assert [r.attrs["id"] for r in hot] == ["1"]
    # numeric coercion: string attr '41.5' compared against number literal
    eq = subscribe(ev, "<osm.node[$id==1]>").collect()
    assert len(eq) == 1 and eq[0].attrs["lat"] == "41.5"
    # missing attribute -> NULL comparison -> dropped (JS undefined parity)
    none = subscribe(ev, "<osm.node[$missing=='x']>").collect()
    assert none == []
    nds = subscribe(ev, "</osm.way.nd>").collect()
    assert [r.attrs["ref"] for r in nds] == ["1", "2"]


def test_subscription_is_catalyst_filter_not_udf(spark):
    df = spark.createDataFrame([("d", "<a x='1'/>")], "doc_id string, payload string")
    plan = subscribe(xml_events(df), "<a[$x==1]>")._jdf.queryExecution().executedPlan().toString()
    assert "Filter" in plan
    assert "pythonUDF" not in plan  # predicate runs JVM-side


# ---------------------------------------------------------------------------
# events DSL: literals containing operator/$ tokens survive compilation
# ---------------------------------------------------------------------------


def test_condition_to_sql_literals_untouched():
    from osm2geojson_lite_spark.operators.events import condition_to_sql

    assert condition_to_sql('$name=="a&&b"') == "element_at(attrs, 'name') = 'a&&b'"
    assert condition_to_sql('$k=="$id"') == "element_at(attrs, 'k') = '$id'"
    assert condition_to_sql('$v!="x==y"') == "element_at(attrs, 'v') <> 'x==y'"
    # numeric coercion still applies outside literals
    assert (condition_to_sql("$lat>39")
            == "cast(element_at(attrs, 'lat') as double) > 39")
    # quotes inside literals escape to doubled SQL quotes
    assert condition_to_sql('$a=="it\'s"') == "element_at(attrs, 'a') = 'it''s'"
