"""End-to-end conversion pipeline (SURVEY.md §3.4 lifecycle).

``documents(doc_id, spans)`` -> parse -> resolve (joins) -> assemble
(kernels) -> emit. The logical plan is declared with the DataFrame API
throughout; Catalyst/AQE pick physical join strategies (broadcast vs
shuffled-hash) per batch.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from .assemble import FEATURE_SCHEMA, relation_kernel_stream, way_features_kernel
from .emit import emit_geojson
from .parse import parse_documents
from .resolve import relation_closure, resolve_graph, visibility_filter


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
    salt: int | None = None  # explicit skew salting for the node-ref join
    # --- mega-document bounds (SURVEY §7 hard part 5) ---------------------
    # Two per-group unbounded spots exist in the plan: the relation kernel
    # (groupBy(doc_id, root_inst).applyInPandas loads ONE group fully into
    # a pandas frame) and the emit collect_list (one doc's features in one
    # aggregation buffer).  Both are bounded by these caps:
    #   * max_doc_instances caps parsed elements per document — which also
    #     caps features per doc, so the emit buffer is bounded by the same
    #     knob (features <= visible instances + relation roots).
    #   * max_relation_group_rows caps the relation kernel's INPUT rows per
    #     (doc, root) group — the exact blow-up unit: super-relation closure
    #     size x member rows, which can be quadratic in instances.
    # Policy "fail" (default) raises with the offending ids — the 100 TB
    # posture is an explicit refusal, never a task OOM; "skip" drops the
    # oversized docs/groups from the output (in complete_feature mode a
    # skipped doc still emits an EMPTY FeatureCollection via the sentinel
    # path) and reports them via build_features()["skipped_docs"] /
    # ["skipped_relation_groups"] plus a logging.warning.
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


# "skip" collects the oversized ids to the driver (to filter + report);
# a corpus where MORE than this many items blow the cap is not a few bad
# documents but a mis-sized cap — refuse instead of building an unbounded
# driver-side list.
_SKIP_LIST_BOUND = 1000


def _mega_guard(over: DataFrame, noun: str, cap_name: str, cap: int,
                policy: str) -> list:
    """Run one mega-document guard job and apply ``mega_doc_policy``.

    ``over`` holds only the key columns of the items above ``cap``.  Returns
    their sorted keys (a bare value for one key column, else a tuple) for
    the caller to drop under policy "skip"; raises ``MegaDocumentError``
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


def build_features(
    docs: DataFrame, opts: Options = Options(), scope: CacheScope | None = None
) -> dict:
    """Run parse+resolve+assemble; returns dict with feature DataFrames."""
    payloads = assemble_payload(docs)
    # Persist AND eagerly materialize the parse output.  AQE runs the many
    # independent downstream query stages concurrently; against a lazily
    # populated cache they all race on the cold cache and each re-executes
    # the Python parse kernel (measured: ~10x parse core-time).  One count()
    # populates the cache once; every branch then scans columnar blocks.
    if scope is None:
        # scopeless call: recycle the module-default scope (drop the
        # previous scopeless conversion's caches — see CacheScope docstring).
        _DEFAULT_SCOPE.release()
        scope = _DEFAULT_SCOPE
    instances = scope.persist(parse_documents(payloads))

    # --- mega-document bound #1: parsed instances per document ------------
    # The guard aggregation scans every partition of the freshly persisted
    # parse output, so it IS the cache-materialization job — one single-
    # stage scan (no concurrent-stage race), and one fewer job barrier per
    # conversion than a separate count() + guard pair.
    skipped_docs: list[str] = []
    if opts.max_doc_instances is None:
        instances.count()
    else:
        skipped_docs = _mega_guard(
            instances.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > opts.max_doc_instances).select("doc_id"),
            "document", "max_doc_instances", opts.max_doc_instances,
            opts.mega_doc_policy,
        )
        if skipped_docs:
            instances = instances.filter(~F.col("doc_id").isin(skipped_docs))

    graph = resolve_graph(instances, salt=opts.salt)
    # Persist every subtree with >1 consumer so its shuffle executes exactly
    # once: `live` (probe-count agg + join; read by all three feature
    # branches), `way_coords` (the J1 explode+join+collect — the heaviest
    # shuffle; read by way features AND the relation kernel) and `members`
    # (member-resolution join; read by the relation kernel AND the closure
    # edges).  Eager materialization populates each cache before the
    # concurrent downstream stages race on it (a lazily populated persist
    # makes every first-wave stage re-run the Python parse, measured ~10x
    # parse core-time).  The three subtrees are mutually independent, so ONE
    # union-count job materializes all three caches: the scheduler
    # interleaves their stages freely inside a single job instead of three
    # barriers.
    live = scope.persist(graph["live"])
    way_coords = scope.persist(graph["way_coords"])
    members = scope.persist(graph["members"])
    one = F.lit(1).alias("one")
    (
        live.select(one)
        .unionAll(way_coords.select(one))
        .unionAll(members.select(one))
        .count()
    )
    visible = visibility_filter(
        live, render_tagged=opts.render_tagged, exclude_way=opts.exclude_way
    )

    # --- node features -----------------------------------------------------
    # The parse kernel already built each node's Point feature (point_json),
    # so this branch is a projection: no Python stage.  geometry_json stays
    # NULL because emit reads it only for relation rows.
    node_feats = (
        visible.filter((F.col("etype") == "node") & F.col("latlng_set"))
        .select(
            "doc_id", "out_pos", F.lit(0).alias("sub_seq"),
            F.col("composite").alias("feature_id"),
            F.lit("Point").alias("geom_type"),
            F.col("point_json").alias("feature_json"),
            F.lit(None).cast("string").alias("geometry_json"),
        )
    )

    # --- way features ------------------------------------------------------
    way_feats = (
        visible.filter(F.col("etype") == "way")
        .select("doc_id", F.col("inst").alias("owner"), "out_pos", "composite",
                "props_json", "tags_json", "tag_events_json")
        .join(way_coords, ["doc_id", "owner"], "left")
        .mapInPandas(way_features_kernel, schema=FEATURE_SCHEMA)
    )

    # --- relation features -------------------------------------------------
    rel_meta = instances.filter(F.col("etype") == "relation").select(
        "doc_id",
        F.col("inst").alias("rel_inst"),
        "composite", "props_json", "tags_json", "roles_json", "bounds_json",
    )
    nodes_by_inst = instances.filter(F.col("etype") == "node").select(
        "doc_id",
        F.col("inst").alias("target_inst"),
        F.col("composite").alias("node_comp"),
        F.col("props_json").alias("node_props_json"),
        F.col("tags_json").alias("node_tags_json"),
        F.col("lon").alias("node_lon"),
        F.col("lat").alias("node_lat"),
    )

    roots = visible.filter(F.col("etype") == "relation").select(
        "doc_id", F.col("inst").alias("root_inst"), "out_pos"
    )
    closure = relation_closure(roots, graph["edges"])

    # --- mega-document bound #2: relation kernel group size ---------------
    # The kernel's per-(doc, root) input is closure-size x member-rows —
    # quadratic in instances for adversarial super-relation fan-out, so cap
    # #1 alone does not bound it.  The EXACT group size is computable from
    # per-relation member counts (one row per relation, map-side combined)
    # joined to the closure — relation metadata, tiny even for mega docs.
    # Closure gets persisted because the guard adds a second consumer.
    skipped_groups: list[tuple[str, int]] = []
    if opts.max_relation_group_rows is not None:
        closure = scope.persist(closure)
        mcounts = members.groupBy("doc_id", "rel_inst").agg(
            F.count(F.lit(1)).alias("mn")
        )
        skipped_groups = _mega_guard(
            closure.join(mcounts, ["doc_id", "rel_inst"], "left")
            .groupBy("doc_id", "root_inst")
            .agg(F.sum(F.coalesce(F.col("mn"), F.lit(0))).alias("g_rows"))
            .filter(F.col("g_rows") > opts.max_relation_group_rows)
            .select("doc_id", "root_inst"),
            "relation group", "max_relation_group_rows",
            opts.max_relation_group_rows, opts.mega_doc_policy,
        )
        if skipped_groups:
            drop = F.lit(False)
            for d, r in skipped_groups:
                drop = drop | (
                    (F.col("doc_id") == d) & (F.col("root_inst") == r)
                )
            closure = closure.filter(~drop)

    kernel_in = (
        closure.join(members, ["doc_id", "rel_inst"])
        .withColumnRenamed("p", "m_p")
        .withColumnRenamed("mtype", "m_mtype")
        .join(
            way_coords.withColumnRenamed("owner", "target_inst"),
            ["doc_id", "target_inst"],
            "left",
        )
        .join(nodes_by_inst, ["doc_id", "target_inst"], "left")
        .withColumn("child_inst", F.col("target_inst"))
        .join(rel_meta, ["doc_id", "rel_inst"])
        .join(roots.select("doc_id", "root_inst", "out_pos"), ["doc_id", "root_inst"])
    )
    # Project to exactly the columns the kernel reads BEFORE the group
    # repartition: mapInPandas is opaque to Catalyst's column pruning, so
    # without the select the exchange would also carry the member `role`
    # string and `target_inst` (already duplicated as child_inst).
    kernel_in = kernel_in.select(
        "doc_id", "root_inst", "rel_inst", "m_p", "m_mtype", "out_pos",
        "coords_json", "child_inst", "node_comp", "node_props_json",
        "node_tags_json", "node_lon", "node_lat", "composite", "props_json",
        "tags_json", "roles_json", "bounds_json",
    )
    # One shuffle keyed exactly like the former groupBy(...).applyInPandas,
    # but the kernel runs as a mapInPandas STREAM over the sorted partition:
    # one Python call per Arrow batch (thousands of groups) instead of one
    # call + one pandas frame per (doc, root) group — measured 13.5s -> ~2s
    # on the 32k-doc bench corpus.  Partition count follows
    # spark.sql.shuffle.partitions, same as the groupBy it replaces.
    rel_feats = (
        kernel_in.repartition("doc_id", "root_inst")
        .sortWithinPartitions("doc_id", "root_inst")
        .mapInPandas(relation_kernel_stream, schema=FEATURE_SCHEMA)
    )

    return {
        "node_features": node_feats,
        "way_features": way_feats,
        "relation_features": rel_feats,
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
    Both modes share one fused emit aggregation (see ``emit_geojson``).

    **Output ``doc_id`` is always a string**, whatever the input column's
    type: span assembly casts it once up front (every internal key — and
    the lineage bucket — hashes the string form), and the emit sentinel
    union would coerce it anyway.  Callers joining the output back to a
    non-string source should cast their side.
    """
    parts = build_features(docs, opts, scope=scope)
    return emit_geojson(
        docs,
        parts["node_features"],
        parts["way_features"],
        parts["relation_features"],
        complete_feature=opts.complete_feature,
    )
