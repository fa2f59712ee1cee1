"""End-to-end conversion pipeline (SURVEY.md §3.4 lifecycle).

Every document is its own ``RefElements`` universe (SURVEY §1.1): no
document reads another document's ids.  So ``convert()`` is one
``mapInArrow`` over the documents' spans that, per document, assembles
the payload (:func:`span_payload`), parses, resolves refs against
in-process dicts, assembles Points, ways and relations and emits the
GeoJSON (:func:`convert_document`).  Its plan has no join, no shuffle and
no ``groupBy``.

The per-stage operators (``parse``, ``resolve``, ``assemble``, ``emit``)
still compose the same conversion as a Spark join plan; the benchmark's
traced pass times that plan layer by layer.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from functools import partial

from pyspark import AccumulatorParam
from pyspark.sql import DataFrame

from ..functions.jsnumber import canonical_json
from .assemble import assemble_relation, point_feature_json, way_feature
from .parse import _analyze
from .resolve import reachable


class CacheScope:
    """Owns the persisted output of one conversion pipeline.

    Pass an explicit scope to run concurrent ``convert()`` pipelines in one
    session without them unpersisting each other's live caches; call
    ``release()`` (or use as a context manager) once the pipeline's outputs
    have been consumed.  When no scope is passed, ``convert()`` falls back to
    a module-default scope whose previous contents are released on the next
    scopeless call, so a loop of scopeless conversions holds one cached
    output at a time instead of piling them up in storage memory.
    """

    def __init__(self) -> None:
        self._cached: list = []

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
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


# scopeless convert() calls hand their cached output to this scope
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


def span_payload(spans: list | None) -> str | None:
    """S1 span assembly for one row: its ``kind='text'`` span texts joined
    in ``(offset, text)`` order, NULLs first, NULL texts skipped.  NULL
    ``spans`` gives NULL; no text span gives ``""``.  Media spans pass
    through untouched: span-sequence equality is checked by
    ``tests/test_lineage_streaming.py::test_span_sequence_invariant``."""
    if spans is None:
        return None
    texts = sorted(((s["offset"], s["text"]) for s in spans
                    if s is not None and s["kind"] == "text"),
                   key=lambda ot: (ot[0] is not None, ot[0], ot[1] is not None, ot[1]))
    return "".join(t for _, t in texts if t is not None)


def _payload_stream(batches):
    """``mapInArrow`` body of :func:`assemble_payload`.  A payload is at
    most its row's span texts, so one output batch per input batch stays
    within Arrow's string-offset limit."""
    import pyarrow as pa

    for batch in batches:
        payloads = [span_payload(s) for s in batch.column(1).to_pylist()]
        yield pa.RecordBatch.from_arrays(
            [batch.column(0), pa.array(payloads, pa.string())], ["doc_id", "payload"])


def _spans(docs: DataFrame) -> DataFrame:
    return docs.selectExpr("CAST(doc_id AS STRING) AS doc_id", "spans")


def assemble_payload(docs: DataFrame) -> DataFrame:
    """``(doc_id, spans)`` rows -> ``(doc_id string, payload)`` rows,
    :func:`span_payload` applied through ``mapInArrow``."""
    return _spans(docs).mapInArrow(_payload_stream, "doc_id string, payload string")


class MegaDocumentError(RuntimeError):
    """A document exceeded a configured mega-document bound (``Options.
    max_doc_instances`` / ``max_relation_group_rows``) under policy
    ``"fail"`` — or more oversized items than the skip list is willing to
    hold driver-side appeared under policy ``"skip"``."""


# "skip" reports the oversized ids to the driver; a corpus where MORE than
# this many items blow the cap is not a few bad documents but a mis-sized
# cap — refuse instead of building an unbounded driver-side list.
_SKIP_LIST_BOUND = 1000


class _OverCap(AccumulatorParam):
    """Accumulator value ``(docs, groups, doc_keys, group_keys)``: the
    counts of documents over ``max_doc_instances`` and of ``(doc, root)``
    groups over ``max_relation_group_rows``, plus the first ``keep`` keys
    of each, so the driver-side value stays bounded however many tasks
    report."""

    def __init__(self, keep: int):
        self.keep = keep

    def zero(self, value):
        return (0, 0, [], [])

    def addInPlace(self, a, b):
        return (a[0] + b[0], a[1] + b[1],
                (a[2] + b[2])[:self.keep], (a[3] + b[3])[:self.keep])


def _apply_policy(count: int, keys: list, noun: str, cap_name: str, cap: int,
                  policy: str) -> list:
    """Apply ``mega_doc_policy`` to ``count`` items over ``cap``; ``keys``
    holds all of them, or ``_SKIP_LIST_BOUND + 1`` when there are more.
    Returns the keys sorted (for the caller to report under "skip"); raises
    ``MegaDocumentError`` under "fail", or under "skip" when more than
    ``_SKIP_LIST_BOUND`` items are over the cap."""
    if not count:
        return []
    keys = sorted(keys)
    if policy != "skip":
        raise MegaDocumentError(
            f"{count} {noun}(s) exceed {cap_name}={cap} (first: "
            f"{keys[:10]}); raise the cap or set mega_doc_policy='skip'"
        )
    if count > _SKIP_LIST_BOUND:
        raise MegaDocumentError(
            f"more than {_SKIP_LIST_BOUND} {noun}s exceed {cap_name}={cap}; "
            "the cap is mis-sized for this corpus — refusing to skip them all"
        )
    logging.getLogger(__name__).warning(
        "mega-document skip: dropping %d %s(s) over %s=%d (first: %s)",
        count, noun, cap_name, cap, keys[:10],
    )
    return keys


# ---------------------------------------------------------------------------
# the per-document kernel
# ---------------------------------------------------------------------------

EMPTY_COLLECTION = '{"type":"FeatureCollection","features":[]}'

OUTPUT_SCHEMA = "doc_id string, geojson string"

# The kernel yields an output batch once its GeoJSON passes this many
# characters (at most 4 UTF-8 bytes each), not one batch per input batch: a
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
        skipped = set(over)
        for rec in roots:
            if rec["inst"] in skipped:
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


def _convert_stream(batches, opts: Options, flush_chars: int, keep: int, report):
    """``mapInArrow`` body: :func:`convert_document` over the
    :func:`span_payload` of every ``(doc_id, spans)`` row, one output row
    per input row.  Batches are yielded once their GeoJSON passes
    ``flush_chars`` characters.  At the end the task passes its over-cap
    counts and first ``keep`` keys of each kind to ``report`` (the
    :class:`_OverCap` accumulator's ``add``)."""
    import pyarrow as pa

    doc_cap = opts.max_doc_instances
    n_docs = n_groups = 0
    doc_keys: list = []
    group_keys: list = []
    ids: list = []
    geojsons: list = []
    size = 0

    def frame():
        return pa.RecordBatch.from_arrays(
            [pa.array(ids, pa.string()), pa.array(geojsons, pa.string())],
            ["doc_id", "geojson"])

    for batch in batches:
        for doc_id, spans in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
            geojson, n, over = convert_document(doc_id, span_payload(spans), opts)
            if doc_cap is not None and n > doc_cap:
                n_docs += 1
                if len(doc_keys) < keep:
                    doc_keys.append(doc_id)
            n_groups += len(over)
            group_keys.extend((doc_id, root) for root in over[:keep - len(group_keys)])
            ids.append(doc_id)
            geojsons.append(geojson)
            size += len(geojson)
            if size >= flush_chars:
                yield frame()
                ids, geojsons, size = [], [], 0
    if ids:
        yield frame()
    report((n_docs, n_groups, doc_keys, group_keys))


def build_features(
    docs: DataFrame, opts: Options = Options(), scope: CacheScope | None = None
) -> dict:
    """Convert ``docs`` and apply the mega-document caps.

    One ``mapInArrow`` over the documents' spans runs
    :func:`convert_document` per row.  Its ``(doc_id, geojson)`` output is
    persisted in ``scope`` and filled by one eager job, a no-op write.
    Each task adds its counts of documents over ``max_doc_instances`` and
    of ``(doc, root)`` groups over ``max_relation_group_rows``, with their
    first keys, to one accumulator; ``mega_doc_policy`` is then applied to
    its value on the driver (:func:`_apply_policy`), so a tripped cap
    costs no extra job.

    Returns ``{"geojson": (doc_id, geojson) frame, "skipped_docs": [...],
    "skipped_relation_groups": [(doc_id, root_inst), ...]}``.
    """
    if scope is None:
        # scopeless call: recycle the module-default scope (drop the
        # previous scopeless conversion's caches — see CacheScope docstring).
        _DEFAULT_SCOPE.release()
        scope = _DEFAULT_SCOPE
    keep = _SKIP_LIST_BOUND + 1
    over_cap = docs.sparkSession.sparkContext.accumulator((0, 0, [], []), _OverCap(keep))
    out = scope.persist(_spans(docs).mapInArrow(
        partial(_convert_stream, opts=opts, flush_chars=FLUSH_CHARS, keep=keep,
                report=over_cap.add),
        OUTPUT_SCHEMA))
    out.write.format("noop").mode("overwrite").save()

    n_docs, n_groups, doc_keys, group_keys = over_cap.value
    policy = opts.mega_doc_policy
    return {
        "geojson": out,
        "skipped_docs": _apply_policy(n_docs, doc_keys, "document", "max_doc_instances",
                                      opts.max_doc_instances, policy),
        "skipped_relation_groups": _apply_policy(
            n_groups, group_keys, "relation group", "max_relation_group_rows",
            opts.max_relation_group_rows, policy),
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
    returned frame is its persisted output.
    """
    return build_features(docs, opts, scope=scope)["geojson"]
