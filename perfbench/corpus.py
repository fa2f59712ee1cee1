"""Seeded input corpora for the benchmark workloads.

Every corpus is a pure function of its seed: the same seed yields the same
documents byte for byte, another seed yields other documents.  Each
generator also returns the number of GeoJSON features the engine must emit
for every document, derived from the corpus's own construction rules, so a
timed pass can be checked for any seed, not only for the seed the committed
golden covers.  Both corpora also carry the golden documents: the seed-42
synthetic documents 0-99, renamed ``golden-<i>``, whose GeoJSON must match
``tests/golden/convert_corpus_100.json`` by md5 on every pass.

- ``uniform``: the engine's own synthetic Overpass-JSON corpus
  (``sources.synth.generate_documents``): small, evenly sized documents,
  each with Points, a LineString, a Polygon and a multipolygon relation.
- ``skewed``: heavy-tailed document sizes.  Two mega documents, each at
  least 100x the median element count, hold about a third of all elements
  (golden documents included).
  One of them carries a wide super-relation (one relation whose members are
  many multipolygon relations).  Payloads alternate Overpass JSON and OSM
  XML, so the XML parse path runs too.
"""

from __future__ import annotations

import json
import random
import statistics
from xml.sax.saxutils import quoteattr

from osm2geojson_lite_spark.sources.synth import _stable_int, wrap_payload

# Corpus sizes.  A pass over either corpus costs a few seconds at local[2];
# see perfbench/NOTES.md for how they were chosen.
UNIFORM_DOCS = 100
SKEWED_SMALL_DOCS = 60
GOLDEN_DOCS = 100
SKEWED_MEGA_DOCS = 2
SUPER_RELATION_FANOUT = 120
MEGA_FACTOR = 100  # mega docs hold at least this multiple of the median


# ---------------------------------------------------------------------------
# uniform
# ---------------------------------------------------------------------------


def uniform_expected_features(i: int, seed: int) -> int:
    """Features ``convert(complete_feature=True)`` emits for synth doc #i.

    Mirrors ``sources.synth._doc_payload``: every node the open way does not
    reference becomes a Point; the open way, the closed way and the
    multipolygon relation add one feature each.  The dangling-ref way
    (every 13th doc) and the duplicate node (every 17th) add none.
    """
    h = _stable_int(f"{seed}/{i}", 1 << 30)
    n_nodes = 20 + h % 40
    return n_nodes - min(5 + h % 10, n_nodes) + 3


def golden_documents(spark, partitions: int):
    """(docs DataFrame, expected features) of the golden documents."""
    from pyspark.sql import functions as F

    from osm2geojson_lite_spark.sources.synth import generate_documents

    docs = generate_documents(spark, GOLDEN_DOCS, seed=42, partitions=partitions)
    docs = docs.withColumn("doc_id", F.regexp_replace("doc_id", "^doc-", "golden-"))
    ids = [f"golden-{i}" for i in range(GOLDEN_DOCS)]
    expected = {d: uniform_expected_features(i, 42) for i, d in enumerate(ids)}
    return docs, expected


def uniform_corpus(spark, seed: int, partitions: int):
    """(docs DataFrame, expected features per doc_id)."""
    from osm2geojson_lite_spark.sources.synth import generate_documents

    golden, expected = golden_documents(spark, partitions)
    docs = generate_documents(spark, UNIFORM_DOCS, seed=seed, partitions=partitions)
    expected.update({f"doc-{i}": uniform_expected_features(i, seed)
                     for i in range(UNIFORM_DOCS)})
    return docs.unionByName(golden).coalesce(partitions), expected


# ---------------------------------------------------------------------------
# skewed
# ---------------------------------------------------------------------------


class _Doc:
    """Builds one OSM universe and counts the features it must yield.

    Feature rules (``complete_feature=True``, default render/exclude
    options): a node, way or relation that something references is not
    emitted on its own; everything unreferenced is.  So the expected count
    is tagged free nodes + free ways + root relations.
    """

    def __init__(self, rng: random.Random, lat0: float, lon0: float):
        self.rng = rng
        self.lat0, self.lon0 = lat0, lon0
        self.nodes: list[tuple[int, float, float, dict]] = []
        self.ways: list[tuple[int, list[int], dict]] = []
        self.relations: list[tuple[int, list[tuple[str, int, str]], dict]] = []
        self.features = 0
        self._next = {"node": 1, "way": 1, "relation": 1}

    def _id(self, kind: str) -> int:
        self._next[kind] += 1
        return self._next[kind] - 1

    def node(self, tags: dict | None = None) -> int:
        nid = self._id("node")
        k = len(self.nodes)
        lat = round(self.lat0 + 0.0007 * (k % 97) + 0.00001 * self.rng.randrange(90), 7)
        lon = round(self.lon0 + 0.0011 * (k // 97) + 0.00001 * self.rng.randrange(90), 7)
        self.nodes.append((nid, lat, lon, tags or {}))
        return nid

    def point(self) -> None:
        self.node({"amenity": self.rng.choice(["bench", "cafe", "shop"]),
                   "name": f"p{len(self.nodes)}"})
        self.features += 1

    def way(self, n: int, closed: bool, tags: dict) -> int:
        refs = [self.node() for _ in range(n)]
        if closed:
            refs.append(refs[0])
        wid = self._id("way")
        self.ways.append((wid, refs, tags))
        return wid

    def line(self) -> None:
        self.way(3 + self.rng.randrange(4), False,
                 {"highway": "residential", "name": f"w{len(self.ways)}"})
        self.features += 1

    def multipolygon(self, root: bool = True) -> int:
        outer = self.way(4, True, {})
        inner = self.way(3, True, {})
        rid = self._id("relation")
        self.relations.append((
            rid, [("way", outer, "outer"), ("way", inner, "inner")],
            {"type": "multipolygon", "landuse": "meadow"},
        ))
        if root:
            self.features += 1
        return rid

    def super_relation(self, fanout: int) -> None:
        children = [self.multipolygon(root=False) for _ in range(fanout)]
        rid = self._id("relation")
        self.relations.append((
            rid, [("relation", c, "") for c in children],
            {"type": "route", "route": "hiking"},
        ))
        self.features += 1

    def fill(self, budget: int) -> None:
        """Add Points, LineStrings and multipolygons until exactly
        ``budget`` elements exist (Points only near the end)."""
        while self.elements() < budget:
            r = self.rng.random()
            if r < 0.55 or budget - self.elements() <= 10:
                self.point()
            elif r < 0.9:
                self.line()
            else:
                self.multipolygon()

    def elements(self) -> int:
        return len(self.nodes) + len(self.ways) + len(self.relations)

    def to_json(self) -> str:
        els = []
        for nid, lat, lon, tags in self.nodes:
            els.append({"type": "node", "id": nid, "lat": lat, "lon": lon,
                        **({"tags": tags} if tags else {})})
        for wid, refs, tags in self.ways:
            els.append({"type": "way", "id": wid, "nodes": refs,
                        **({"tags": tags} if tags else {})})
        for rid, members, tags in self.relations:
            els.append({"type": "relation", "id": rid, "tags": tags, "members": [
                {"type": t, "ref": ref, "role": role} for t, ref, role in members]})
        return json.dumps({"version": 0.6, "generator": "perfbench", "elements": els})

    def to_xml(self) -> str:
        def tag_xml(tags: dict) -> str:
            return "".join(f"<tag k={quoteattr(k)} v={quoteattr(v)}/>" for k, v in tags.items())

        out = ['<?xml version="1.0" encoding="UTF-8"?><osm version="0.6" generator="perfbench">']
        for nid, lat, lon, tags in self.nodes:
            if tags:
                out.append(f'<node id="{nid}" lat="{lat}" lon="{lon}">{tag_xml(tags)}</node>')
            else:
                out.append(f'<node id="{nid}" lat="{lat}" lon="{lon}"/>')
        for wid, refs, tags in self.ways:
            nds = "".join(f'<nd ref="{r}"/>' for r in refs)
            out.append(f'<way id="{wid}">{nds}{tag_xml(tags)}</way>')
        for rid, members, tags in self.relations:
            mem = "".join(f'<member type="{t}" ref="{ref}" role="{role}"/>'
                          for t, ref, role in members)
            out.append(f'<relation id="{rid}">{mem}{tag_xml(tags)}</relation>')
        out.append("</osm>")
        return "".join(out)


def skewed_documents(seed: int) -> list[dict]:
    """The skewed corpus as plain rows, built on the driver.

    Each row: ``doc_id``, ``payload``, ``format`` (``json``/``xml``),
    ``elements`` and ``expected_features``.  Small-doc sizes are the
    quantiles of a bounded Pareto tail, shuffled by the seed, so every seed
    has the same size profile and only the content and order change.  The
    mega docs are sized from the small docs: each at least ``MEGA_FACTOR``
    times their median, together at least half as many elements as them.
    """
    rng = random.Random(f"perfbench-skewed/{seed}")

    def build(i: int, size: int, super_fanout: int = 0) -> _Doc:
        d = _Doc(random.Random(f"perfbench-skewed/{seed}/{i}"),
                 lat0=rng.uniform(-60, 60), lon0=rng.uniform(-170, 170))
        if super_fanout:
            d.super_relation(super_fanout)
        d.fill(size)
        return d

    # bounded Pareto(1.6) quantiles: median about 24, a tail up to 400
    n_small, n_mega = SKEWED_SMALL_DOCS, SKEWED_MEGA_DOCS
    sizes = [min(12 + int(8 * (1 - (k + 0.5) / n_small) ** (-1 / 1.6)), 400)
             for k in range(n_small)]
    rng.shuffle(sizes)
    built = [build(i, size) for i, size in enumerate(sizes)]
    mega = max(sum(sizes) // (2 * n_mega), int(MEGA_FACTOR * statistics.median(sizes)) + 1)
    # the first mega doc carries the wide super-relation
    built += [build(n_small + k, mega, SUPER_RELATION_FANOUT if k == 0 else 0)
              for k in range(n_mega)]
    docs = []
    for i, d in enumerate(built):
        fmt = "json" if i % 2 == 0 else "xml"
        docs.append({
            "doc_id": f"skew-{seed}-{i}",
            "payload": d.to_json() if fmt == "json" else d.to_xml(),
            "format": fmt,
            "elements": d.elements(),
            "expected_features": d.features,
        })
    return docs


def skewed_corpus(spark, seed: int, partitions: int):
    """(docs DataFrame, expected features per doc_id)."""
    from osm2geojson_lite_spark.sources.synth import SPAN_SCHEMA

    golden, expected = golden_documents(spark, partitions)
    rows = skewed_documents(seed)
    docs = spark.createDataFrame(
        [wrap_payload(r["doc_id"], r["payload"]) for r in rows], schema=SPAN_SCHEMA
    ).repartition(partitions)
    expected.update({r["doc_id"]: r["expected_features"] for r in rows})
    return docs.unionByName(golden).coalesce(partitions), expected
