"""Deterministic synthetic interleaved-document generation (FIXTURES.md §5).

Two sources of documents, both shaped per BASELINE.json ``input_hint``
``(doc_id:string, spans:array<struct<kind,text,media_ref,offset>>)``:

- :func:`fixture_documents` wraps each reference test fixture file
  (``REFERENCE_DATA_DIR``) as one document, payload split into 1-3
  text spans with 0-2 interleaved media spans (seeded by name — stable).
- :func:`generate_documents` builds an arbitrary-size corpus of synthetic
  Overpass-JSON documents from the seed only (no wall clock, no external
  data): nodes, tagged ways (rings + open lines), multipolygon relations
  with holes, plus controlled anomalies (dangling refs, duplicate ids) so
  resolve-stage edge paths stay exercised at scale.  (Skewed mega-documents
  are exercised separately — `tests/test_round2_fixes.py` builds one
  inline — so the corpus stays uniform and byte-pinned by the committed
  conversion golden.)
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

SPAN_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)

# The reference implementation's test directory: ``data/`` holds the input
# fixtures, ``expected/`` the GeoJSON the reference emits for each.  Taken
# from OSM2GEOJSON_REFERENCE_TEST, else a ``reference`` checkout next to
# this repository.
REFERENCE_TEST_DIR = os.environ.get(
    "OSM2GEOJSON_REFERENCE_TEST",
    str(Path(__file__).resolve().parents[3] / "reference" / "test"),
)
REFERENCE_DATA_DIR = os.path.join(REFERENCE_TEST_DIR, "data")
REFERENCE_EXPECTED_DIR = os.path.join(REFERENCE_TEST_DIR, "expected")


def _stable_int(key: str, mod: int) -> int:
    return int.from_bytes(hashlib.sha256(key.encode()).digest()[:4], "big") % mod


def wrap_payload(doc_id: str, payload: str) -> dict:
    """Split payload into text spans + interleaved media spans, seeded by id."""
    n_parts = 1 + _stable_int(doc_id + "/parts", 3)  # 1-3 text spans
    n_media = _stable_int(doc_id + "/media", 3)      # 0-2 media spans
    step = max(1, len(payload) // n_parts) if payload else 1
    chunks = [payload[i * step: (i + 1) * step] for i in range(n_parts - 1)]
    chunks.append(payload[(n_parts - 1) * step:])
    spans = []
    offset = 0
    for i, chunk in enumerate(chunks):
        spans.append({"kind": "text", "text": chunk, "media_ref": None, "offset": offset})
        offset += 1
        if i < n_media:
            spans.append({
                "kind": "media", "text": None,
                "media_ref": f"img://{doc_id}/{i}", "offset": offset,
            })
            offset += 1
    return {"doc_id": doc_id, "spans": spans}


def fixture_documents(spark, data_dir: str = REFERENCE_DATA_DIR):
    """One document row per reference golden fixture."""
    rows = []
    for name in sorted(os.listdir(data_dir)):
        path = os.path.join(data_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as f:
            payload = f.read()
        rows.append(wrap_payload(name, payload))
    return spark.createDataFrame(rows, schema=SPAN_SCHEMA)


# ---------------------------------------------------------------------------
# Pure generator (bench path; no external data)
# ---------------------------------------------------------------------------


def _doc_payload(i: int, seed: int = 42) -> str:
    """Deterministic Overpass-JSON document #i: a small OSM universe."""
    h = _stable_int(f"{seed}/{i}", 1 << 30)
    n_nodes = 20 + h % 40
    lat0 = -60 + (h % 120)
    lon0 = -170 + (h % 340)
    elements = []
    nid = 1
    node_ids = []
    for k in range(n_nodes):
        elements.append({
            "type": "node", "id": nid,
            "lat": round(lat0 + 0.001 * k + 0.0001 * (h % 7), 7),
            "lon": round(lon0 + 0.0015 * k - 0.0001 * (h % 5), 7),
            **({"tags": {"name": f"poi-{i}-{k}", "amenity": "bench"}} if k % 7 == 0 else {}),
        })
        node_ids.append(nid)
        nid += 1
    # open way (LineString)
    way_nodes = node_ids[: 5 + h % 10]
    elements.append({"type": "way", "id": 1000, "nodes": way_nodes,
                     "tags": {"highway": "residential", "name": f"road-{i}"}})
    # closed tagged way (Polygon)
    cx, cy = lon0 + 0.5, lat0 + 0.5
    ring_ids = []
    for k in range(4):
        elements.append({"type": "node", "id": nid,
                         "lat": round(cy + [0, 0, 0.01, 0.01][k], 7),
                         "lon": round(cx + [0, 0.01, 0.01, 0][k], 7)})
        ring_ids.append(nid)
        nid += 1
    elements.append({"type": "way", "id": 1001,
                     "nodes": ring_ids + [ring_ids[0]],
                     "tags": {"building": "yes"}})
    # multipolygon relation with hole, split outer ring in two segments
    def grid(x, y):
        elements.append({"type": "node", "id": grid.nid, "lat": round(y, 7), "lon": round(x, 7)})
        grid.nid += 1
        return grid.nid - 1
    grid.nid = nid
    o = [grid(cx + dx, cy + 1 + dy) for dx, dy in
         [(0, 0), (0.1, 0), (0.1, 0.1), (0, 0.1)]]
    inner = [grid(cx + 0.02 + dx, cy + 1.02 + dy) for dx, dy in
             [(0, 0), (0.05, 0), (0.05, 0.05), (0, 0.05)]]
    elements.append({"type": "way", "id": 2000, "nodes": [o[0], o[1], o[2]]})
    elements.append({"type": "way", "id": 2001, "nodes": [o[2], o[3], o[0]]})
    elements.append({"type": "way", "id": 2002, "nodes": inner + [inner[0]]})
    elements.append({
        "type": "relation", "id": 3000,
        "tags": {"type": "multipolygon", "landuse": "forest"},
        "members": [
            {"type": "way", "ref": 2000, "role": "outer"},
            {"type": "way", "ref": 2001, "role": "outer"},
            {"type": "way", "ref": 2002, "role": "inner"},
        ],
    })
    if i % 13 == 0:  # dangling ref anomaly
        elements.append({"type": "way", "id": 4000, "nodes": [999999, node_ids[0]],
                         "tags": {"highway": "path"}})
    if i % 17 == 0:  # duplicate composite id (last registration wins)
        elements.append({"type": "node", "id": node_ids[0],
                         "lat": lat0 + 0.9, "lon": lon0 + 0.9})
    return json.dumps({"version": 0.6, "generator": "synth", "elements": elements})


def generate_documents(spark, n_docs: int, seed: int = 42, *, partitions: int | None = None):
    """n_docs synthetic documents as an interleaved-span DataFrame.

    Generation is distributed: ``spark.range`` + an Arrow-batched generator,
    so the corpus never materializes on the driver.
    """
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = [wrap_payload(f"doc-{int(i)}", _doc_payload(int(i), seed))
                    for i in pdf["id"]]
            yield pd.DataFrame({
                "doc_id": [r["doc_id"] for r in rows],
                "spans": [r["spans"] for r in rows],
            })

    rng = spark.range(n_docs, numPartitions=partitions)
    return rng.mapInPandas(gen, schema=SPAN_SCHEMA)
