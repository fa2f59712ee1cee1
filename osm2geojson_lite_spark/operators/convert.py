"""End-to-end conversion pipeline (SURVEY.md §3.4 lifecycle).

Every document is its own ``RefElements`` universe (SURVEY §1.1): no
document reads another document's ids.  So ``convert()`` is one
``mapInPandas`` over the assembled payloads that, per document, parses,
resolves refs against in-process dicts, assembles Points, ways and
relations and emits the GeoJSON (:func:`convert_document`).  Its plan
has no join, no shuffle and no ``groupBy``.

The per-stage operators (``parse``, ``resolve``, ``assemble``, ``emit``)
still compose the same conversion as a Spark join plan; the benchmark's
traced pass times that plan layer by layer.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, Observation, functions as F

from ..functions.jsnumber import canonical_json
from .assemble import assemble_relation, point_feature_json, way_feature
from .parse import _analyze
from .resolve import reachable


class CacheScope:
    """Owns the persisted intermediates of one conversion pipeline.

    Pass an explicit scope to run concurrent ``convert()`` pipelines in one
    session without them unpersisting each other's live caches; call
    ``release()`` (or use as a context manager) once the pipeline's outputs
    have been consumed.  When no scope is passed, ``convert()`` falls back to
    a module-default scope whose previous contents are released on the next
    scopeless call — the right cadence for bench/test loops, where caches
    otherwise accumulate until eviction storms set in (measured 83s -> 200s
    across three runs).
    """

    def __init__(self) -> None:
        self._cached: list = []

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._cached.append(df)
        return df

    def track(self, df: DataFrame) -> DataFrame:
        """Adopt an already-persisted frame for release with this scope."""
        self._cached.append(df)
        return df

    def release(self) -> None:
        while self._cached:
            try:
                self._cached.pop().unpersist()
            except Exception:
                pass

    def __enter__(self) -> "CacheScope":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


_DEFAULT_SCOPE = CacheScope()


@dataclass(frozen=True)
class Options:
    """Reference option surface (index.ts:30-38) + engine knobs."""

    complete_feature: bool = False
    render_tagged: bool = False
    exclude_way: bool = True
    # skew salting for the node-ref join of the join plan
    # (resolve.resolve_graph); convert() resolves refs in process, per
    # document, and ignores it
    salt: int | None = None
    # --- mega-document bounds (SURVEY §7 hard part 5) ---------------------
    # convert() holds one document's catalog in one Python worker at a
    # time; two sizes bound that memory:
    #   * max_doc_instances caps parsed elements per document, which also
    #     caps its features (at most visible instances + relation roots);
    #   * max_relation_group_rows caps one relation root's assembly input,
    #     the resolved members of every relation its closure reaches: the
    #     exact blow-up unit (super-relation closure size x member rows,
    #     which can be quadratic in instances).
    # Policy "fail" (default) raises with the offending ids — the 100 TB
    # posture is an explicit refusal, never a task OOM; "skip" drops the
    # oversized docs/groups from the output (an oversized doc emits an
    # EMPTY FeatureCollection) and reports them via
    # build_features()["skipped_docs"] / ["skipped_relation_groups"] plus a
    # logging.warning.
    max_doc_instances: int | None = 2_000_000
    max_relation_group_rows: int | None = 8_000_000
    mega_doc_policy: str = "fail"  # "fail" | "skip"


def assemble_payload(docs: DataFrame) -> DataFrame:
    """S1 span assembly: concatenate kind='text' span texts in offset order.

    Pure column expressions (higher-order functions run JVM-side); media
    spans pass through untouched — span-sequence equality is checked by
    tests/test_span_invariant.py.
    """
    text_spans = F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("text"))
    ordered = F.array_sort(
        F.transform(text_spans, lambda s: F.struct(s["offset"].alias("o"), s["text"].alias("t")))
    )
    payload = F.array_join(F.transform(ordered, lambda s: s["t"]), "")
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), payload.alias("payload")
    )


class MegaDocumentError(RuntimeError):
    """A document exceeded a configured mega-document bound (``Options.
    max_doc_instances`` / ``max_relation_group_rows``) under policy
    ``"fail"`` — or more oversized items than the skip list is willing to
    hold driver-side appeared under policy ``"skip"``."""


# "skip" collects the oversized ids to the driver (to report them);
# a corpus where MORE than this many items blow the cap is not a few bad
# documents but a mis-sized cap — refuse instead of building an unbounded
# driver-side list.
_SKIP_LIST_BOUND = 1000


def _mega_guard(over: DataFrame, noun: str, cap_name: str, cap: int,
                policy: str) -> list:
    """Run one mega-document guard job and apply ``mega_doc_policy``.

    ``over`` holds only the key columns of the items above ``cap``.  Returns
    their sorted keys (a bare value for one key column, else a tuple) for
    the caller to report under policy "skip"; raises ``MegaDocumentError``
    under "fail", or under "skip" when more than ``_SKIP_LIST_BOUND`` items
    are over the cap.
    """
    rows = over.limit(_SKIP_LIST_BOUND + 1).collect()
    keys = sorted(r[0] if len(r) == 1 else tuple(r) for r in rows)
    if not keys:
        return keys
    if policy != "skip":
        raise MegaDocumentError(
            f"{len(keys)} {noun}(s) exceed {cap_name}={cap} (first: "
            f"{keys[:10]}); raise the cap or set mega_doc_policy='skip'"
        )
    if len(keys) > _SKIP_LIST_BOUND:
        raise MegaDocumentError(
            f"more than {_SKIP_LIST_BOUND} {noun}s exceed {cap_name}={cap}; "
            "the cap is mis-sized for this corpus — refusing to skip them all"
        )
    logging.getLogger(__name__).warning(
        "mega-document skip: dropping %d %s(s) over %s=%d (first: %s)",
        len(keys), noun, cap_name, cap, keys[:10],
    )
    return keys


# ---------------------------------------------------------------------------
# the per-document kernel
# ---------------------------------------------------------------------------

EMPTY_COLLECTION = '{"type":"FeatureCollection","features":[]}'

OUTPUT_SCHEMA = (
    "doc_id string, geojson string, n_instances long, over_roots array<bigint>"
)
_OUTPUT_COLS = ["doc_id", "geojson", "n_instances", "over_roots"]

# The kernel yields an output frame once its GeoJSON passes this many
# characters (at most 4 UTF-8 bytes each), not one frame per input batch: a
# batch of up to maxRecordsPerBatch documents could otherwise approach
# Arrow's 2 GB string-offset limit.
FLUSH_CHARS = 64 << 20


def _props_json(rec: dict) -> str:
    """Canonical ``getProps()`` of a parsed record: tags overwrite props."""
    return canonical_json({**rec["props"], **rec["tags"]} if rec["tags"] else rec["props"])


def _relation_catalog(instances: list, registry: dict, way_coords) -> tuple[dict, dict]:
    """J2-J4: the ``rels`` catalog :func:`assemble.assemble_relation` reads,
    with an entry for every relation instance (live or not) that has a
    resolved member, and each entry's resolved-member count.  A ref member
    resolves to the live instance of its composite id, an inline member to
    the instance it created; an unresolved member drops out."""
    rels: dict[int, dict] = {}
    rows: dict[int, int] = {}
    for rec in instances:
        if rec["etype"] != "relation":
            continue
        ways, subs, nodes = [], [], []
        for m in rec["members"]:
            if m["kind"] == "inline":
                target = instances[m["inst"]]
            else:
                target = (registry.get(f'{m["mtype"]}/{m["ref"]}')
                          if m["ref"] is not None else None)
                if target is None:
                    continue
            if m["mtype"] == "way":
                ways.append(way_coords(target))
            elif m["mtype"] == "relation":
                subs.append(target["inst"])
            else:
                nodes.append((target["composite"], canonical_json(target["props"]),
                              canonical_json(target["tags"]), target["lon"], target["lat"]))
        n = len(ways) + len(subs) + len(nodes)
        if n:
            rels[rec["inst"]] = {
                "composite": rec["composite"],
                "props_json": canonical_json(rec["props"]),
                "tags_json": canonical_json(rec["tags"]),
                "roles": [m["role"] for m in rec["members"] if m["mtype"] == "way"],
                "bounds": rec["bounds"],
                "ways": ways,
                "subs": subs,
                "nodes": nodes,
            }
            rows[rec["inst"]] = n
    return rels, rows


def convert_document(doc_id, payload, opts: Options) -> tuple[str, int, list]:
    """One document -> ``(geojson, instances, over_roots)``.

    Parse, then resolve every deferred reference against the document's
    own catalog (``state.registry``: the live instance per composite id;
    ``state.first_seq``: its output position), then assemble and emit, the
    same bytes as the join plan:

    - J6: an instance's ref count is the probes naming it from every
      instance's way slots and members, live or not, plus one if a member
      created it; P3 visibility reads it;
    - J1: a way's coordinates are its slots in order, a ``ref=None`` slot
      inline, a ref slot the live node's, a dangling ref dropped;
    - features sort by ``(out_pos, sub_seq, feature_json)``; default mode
      emits the relation geometry with the least
      ``(out_pos, sub_seq, geometry_json)`` when there is one.

    ``instances`` is the parsed element count; a document over
    ``opts.max_doc_instances`` emits an empty FeatureCollection.
    ``over_roots`` lists the relation roots whose group (the resolved
    members of every relation their closure reaches) is over
    ``opts.max_relation_group_rows``; their features are dropped.
    """
    if payload is None:
        return EMPTY_COLLECTION, 0, []
    state = _analyze(doc_id, payload)
    instances, registry, first_seq = state.instances, state.registry, state.first_seq
    n = len(instances)
    if opts.max_doc_instances is not None and n > opts.max_doc_instances:
        return EMPTY_COLLECTION, n, []

    hits: dict[str, int] = {}
    for rec in instances:
        for slot in rec["way_slots"]:
            if slot["ref"] is not None:
                key = "node/" + slot["ref"]
                hits[key] = hits.get(key, 0) + 1
        for m in rec["members"]:
            if m["kind"] == "ref" and m["ref"] is not None:
                key = f'{m["mtype"]}/{m["ref"]}'
                hits[key] = hits.get(key, 0) + 1

    coords_of: dict[int, list] = {}

    def way_coords(way: dict) -> list:
        coords = coords_of.get(way["inst"])
        if coords is None:
            coords = []
            for slot in way["way_slots"]:
                if slot["ref"] is None:
                    coords.append([slot["lon"], slot["lat"]])
                elif (node := registry.get("node/" + slot["ref"])) is not None:
                    coords.append([node["lon"], node["lat"]])
            coords_of[way["inst"]] = coords
        return coords

    feats: list[tuple] = []  # (out_pos, sub_seq, feature_json, relation geometry_json)
    roots: list[dict] = []
    for comp, rec in registry.items():
        etype = rec["etype"]
        if hits.get(comp, 0) + rec["member_created"] > 0 and not (
                rec["has_tag"] and opts.render_tagged
                and not (etype == "way" and opts.exclude_way)):
            continue
        if etype == "node":
            if rec["latlng_set"]:
                feats.append((first_seq[comp], 0, point_feature_json(
                    comp, _props_json(rec), rec["lon"], rec["lat"]), None))
        elif etype == "way":
            coords = way_coords(rec)
            if len(coords) > 1:
                feats.append((first_seq[comp], 0, way_feature(
                    comp, _props_json(rec), rec["tag_events"], coords)[1], None))
        else:
            roots.append(rec)

    over: list[int] = []
    if roots:
        rels, rows = _relation_catalog(instances, registry, way_coords)
        cap = opts.max_relation_group_rows
        # no group can exceed the document's resolved-member total
        if cap is not None and sum(rows.values()) > cap:
            adj = {ri: e["subs"] for ri, e in rels.items()}
            over = [rec["inst"] for rec in roots
                    if sum(rows.get(ri, 0) for ri in reachable(rec["inst"], adj)) > cap]
        for rec in roots:
            if rec["inst"] in over:
                continue
            out_pos = first_seq[rec["composite"]]
            for sub_seq, feature in enumerate(assemble_relation(rels, rec["inst"])):
                feats.append((out_pos, sub_seq, canonical_json(feature),
                              canonical_json(feature["geometry"])))

    if not opts.complete_feature:
        first = min(((f[0], f[1], f[3]) for f in feats if f[3] is not None), default=None)
        if first is not None:
            return first[2], n, over
    feats.sort(key=lambda f: f[:3])
    return ('{"type":"FeatureCollection","features":['
            + ",".join(f[2] for f in feats) + "]}"), n, over


def _convert_stream(batches, opts: Options, flush_chars: int):
    """``mapInPandas`` body: :func:`convert_document` for every
    ``(doc_id, payload)`` row, one output row per input row.  Frames are
    yielded once their GeoJSON passes ``flush_chars`` characters."""
    import pandas as pd

    cols: dict[str, list] = {c: [] for c in _OUTPUT_COLS}
    size = 0
    for pdf in batches:
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            geojson, n, over = convert_document(doc_id, payload, opts)
            cols["doc_id"].append(doc_id)
            cols["geojson"].append(geojson)
            cols["n_instances"].append(n)
            cols["over_roots"].append(over)
            size += len(geojson)
            if size >= flush_chars:
                yield pd.DataFrame(cols, columns=_OUTPUT_COLS)
                cols = {c: [] for c in _OUTPUT_COLS}
                size = 0
    if cols["doc_id"]:
        yield pd.DataFrame(cols, columns=_OUTPUT_COLS)


def build_features(
    docs: DataFrame, opts: Options = Options(), scope: CacheScope | None = None
) -> dict:
    """Convert ``docs`` and apply the mega-document caps.

    One ``mapInPandas`` over :func:`assemble_payload` runs
    :func:`convert_document` per row.  Its output is persisted in ``scope``
    and filled by one eager job, a no-op write that ``DataFrame.observe``
    rides to count the documents over ``max_doc_instances`` and the
    ``(doc, root)`` groups over ``max_relation_group_rows``.  Only a
    non-zero count runs a guard job (:func:`_mega_guard`) to collect the
    ids and apply ``mega_doc_policy``.

    Returns ``{"geojson": (doc_id, geojson) frame, "skipped_docs": [...],
    "skipped_relation_groups": [(doc_id, root_inst), ...]}``.
    """
    if scope is None:
        # scopeless call: recycle the module-default scope (drop the
        # previous scopeless conversion's caches — see CacheScope docstring).
        _DEFAULT_SCOPE.release()
        scope = _DEFAULT_SCOPE
    out = scope.persist(assemble_payload(docs).mapInPandas(
        partial(_convert_stream, opts=opts, flush_chars=FLUSH_CHARS),
        schema=OUTPUT_SCHEMA))

    doc_cap, group_cap = opts.max_doc_instances, opts.max_relation_group_rows
    over_doc = (F.col("n_instances") > doc_cap) if doc_cap is not None else F.lit(False)
    counts = Observation()
    (out.observe(counts, F.sum(over_doc.cast("long")).alias("docs"),
                 F.sum(F.size("over_roots")).alias("groups"))
     .write.format("noop").mode("overwrite").save())

    skipped_docs: list[str] = []
    if counts.get["docs"]:
        skipped_docs = _mega_guard(
            out.filter(over_doc).select("doc_id"),
            "document", "max_doc_instances", doc_cap, opts.mega_doc_policy,
        )
    skipped_groups: list[tuple[str, int]] = []
    if counts.get["groups"]:
        skipped_groups = _mega_guard(
            out.select("doc_id", F.explode("over_roots")),
            "relation group", "max_relation_group_rows", group_cap,
            opts.mega_doc_policy,
        )
    return {
        "geojson": out.select("doc_id", "geojson"),
        "skipped_docs": skipped_docs,
        "skipped_relation_groups": skipped_groups,
    }


def convert(
    docs: DataFrame, opts: Options = Options(), scope: CacheScope | None = None
) -> DataFrame:
    """documents -> (doc_id, geojson).

    With ``complete_feature=True`` every doc yields a FeatureCollection;
    otherwise docs whose first qualifying relation produced features yield
    that bare geometry (reference default mode, ``index.ts:220-222``).

    ``doc_id`` is the documents table's key: every input row converts on
    its own, so there is one output row per input row.  (The former join
    plan grouped by ``doc_id`` and so merged rows sharing an id into one
    mixed FeatureCollection.)  **Output ``doc_id`` is always a string**,
    whatever the input column's type: span assembly casts it once up front,
    and the lineage bucket hashes the string form.  Callers joining the
    output back to a non-string source should cast their side.

    The conversion itself runs eagerly (:func:`build_features`); the
    returned frame reads its persisted output.
    """
    return build_features(docs, opts, scope=scope)["geojson"]
