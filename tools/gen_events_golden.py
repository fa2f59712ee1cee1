"""Generate the committed golden table for the `xml_events` oracle.

Counts per (phase, path) over every XML reference fixture, plus the match
counts of three conditioned-listener subscriptions, computed with the
*independent* in-test reference scanner (`tests/test_xml_events.py:_ref_events`
— a direct re-read of xmlparser.ts:35-109, not the engine kernel) and plain
Python predicate evaluation.  Written to tests/golden/xml_events_counts.json;
`oracle_sql()['xml_events']` serves it back as a VALUES table.

Regenerate ONLY after an intentional semantic change:
    python tools/gen_events_golden.py
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from osm2geojson_lite_spark.sources.synth import REFERENCE_DATA_DIR as DATA  # noqa: E402
from tests.test_xml_events import _ref_events  # noqa: E402

OUT = os.path.join(ROOT, "tests", "golden", "xml_events_counts.json")

def _as_num(v):
    """Mirror the engine's cast-to-double semantics: a non-numeric attribute
    casts to NULL and the filter drops the row (never a crash)."""
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


# (event string, independent python predicate over (phase, path, attrs))
SUBSCRIPTIONS = [
    ("<osm.node[$lat>39]>",
     lambda ph, p, at, it: ph == "open" and p == "osm.node"
     and _as_num(at.get("lat")) is not None and _as_num(at["lat"]) > 39),
    ("</osm.way.nd>",
     lambda ph, p, at, it: ph == "close" and p == "osm.way.nd"),
    ("<osm.relation.member[$type=='way']>",
     lambda ph, p, at, it: ph == "open" and p == "osm.relation.member"
     and at.get("type") == "way"),
]


def main() -> None:
    counts: Counter = Counter()
    sub_counts = Counter()
    for name in sorted(os.listdir(DATA)):
        path = os.path.join(DATA, name)
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as f:
            payload = f.read()
        if not payload.lstrip("﻿ \t\r\n").startswith("<"):
            continue
        for (_d, _s, phase, epath, _t, attrs, inner) in _ref_events(payload, name):
            counts[(phase, epath)] += 1
            for evt, pred in SUBSCRIPTIONS:
                if pred(phase, epath, attrs, inner):
                    sub_counts[evt] += 1
    rows = sorted([k, p, n] for (k, p), n in counts.items())
    for evt, _pred in SUBSCRIPTIONS:
        rows.append([evt, parse_path(evt), sub_counts.get(evt, 0)])
    with open(OUT, "w", encoding="utf-8") as f:
        json.dump(rows, f, indent=0)
    print(f"wrote {OUT} ({len(rows)} rows)")
    print("subscription counts:", dict(sub_counts))


def parse_path(evt: str) -> str:
    from osm2geojson_lite_spark.operators.events import parse_event

    return parse_event(evt)[1]


if __name__ == "__main__":
    main()
