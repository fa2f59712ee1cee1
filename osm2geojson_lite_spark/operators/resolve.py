"""Resolve stage: deferred-FK execution as Spark joins (SURVEY.md §2.3).

The reference defers every foreign-key probe in a ``LateBinder`` list and
executes them against its in-memory catalog (``ref-elements.ts:20-22``,
``late-binder.ts:14-25``) — a classic build-then-probe hash join. Here the
build side is the *live* instance table (last registration per
``(doc_id, composite)``) and the probe side is the exploded ref-slot table;
Catalyst/AQE picks broadcast vs shuffled-hash per batch, and dangling refs
drop out through plain inner joins.

Operators implemented here:
- J1 way→node ref resolution (``way.ts:28-39``)  — explode + equi-join +
  ordered re-collection.
- J2/J3/J4 relation member resolution (``relation.ts:30-105``) — one exploded
  member join against the live catalog.
- J6 reference counting (``way.ts:32``, ``relation.ts:37,52,60,66,91,97``) —
  pre-aggregated probe counts joined back to live instances, plus the
  member-creation self-increment.
- A3 super-relation closure (``relation.ts:161-184``) — a visited-set BFS
  per document over one sorted stream (the reference would recurse forever
  on membership cycles).

Scale notes: every join is an equi-join keyed ``(doc_id, …)``; documents never
cross-contaminate, so salting a hot document (mega-relation) is safe — see
``salt`` in :func:`resolve_graph`. Probe counts are aggregated *before* the
join back (map-side partial agg), so the shuffle carries one row per distinct
target, not one per probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

WAY_SLOTS_T = "array<struct<p:int,ref:string,lon:string,lat:string>>"
MEMBERS_T = "array<struct<p:int,mtype:string,kind:string,ref:string,inst:bigint,role:string>>"


def resolve_graph(instances: DataFrame, *, salt: int | None = None) -> dict:
    """Run J1-J4 + J6 over the parsed instance table.

    Returns a dict of DataFrames: ``live`` (with ``ref_count``),
    ``way_coords`` (per way instance, ordered token coords as JSON),
    ``members`` (resolved member slots), ``edges`` (relation->relation).

    ``salt`` (optional int) salts the node-lookup join key to spread a skewed
    build side (one mega-document holding most nodes) over ``salt`` reducers:
    the probe side gets a random-free deterministic salt from the ref hash and
    the build side is replicated ``salt`` ways. With AQE skew-join enabled
    this is rarely needed; it exists for explicit-skew-handling parity with
    the north rule.
    """
    inst = instances

    # Project the live table to the columns its consumers actually read
    # BEFORE it crosses the ref-count join's exchange (guide: project
    # before the exchange).  The parse table also carries way_slots_json /
    # members_json / roles_json / bounds_json / eid — fat strings consumed
    # only via their own explode paths below, never through `live` — and
    # shuffling them with every live row roughly doubled the join's bytes.
    live = inst.filter(F.col("is_live")).select(
        "doc_id", "composite", "inst", "etype", "out_pos",
        "member_created", "has_tag", "latlng_set", "lat", "lon",
        "props_json", "tags_json", "tag_events_json", "point_json",
    )
    live_keyed = live.select(
        "doc_id", "composite",
        F.col("inst").alias("target_inst"),
        F.col("etype").alias("target_etype"),
    )

    # --- explode deferred refs --------------------------------------------
    way_slots = (
        inst.filter(F.col("way_slots_json").isNotNull())
        .select(
            "doc_id",
            F.col("inst").alias("owner"),
            F.explode(F.from_json("way_slots_json", WAY_SLOTS_T)).alias("s"),
        )
        .select("doc_id", "owner", "s.p", "s.ref", "s.lon", "s.lat")
    )
    slot_refs = way_slots.filter(F.col("ref").isNotNull()).select(
        "doc_id", "owner", "p",
        F.concat(F.lit("node/"), F.col("ref")).alias("composite"),
    )

    members = (
        inst.filter(F.col("members_json").isNotNull())
        .select(
            "doc_id",
            F.col("inst").alias("rel_inst"),
            F.explode(F.from_json("members_json", MEMBERS_T)).alias("m"),
        )
        # m.role is NOT carried: the relation kernel reads member roles from
        # rel_meta.roles_json (the parse-side projection), so resolved
        # members would shuffle and cache the string for no consumer.
        .select("doc_id", "rel_inst", "m.p", "m.mtype", "m.kind", "m.ref", "m.inst")
    )
    mem_refs = members.filter(F.col("kind") == "ref").select(
        "doc_id", "rel_inst", "p", "mtype",
        F.concat(F.col("mtype"), F.lit("/"), F.col("ref")).alias("composite"),
    )

    # --- J6: reference counting (aggregation, not mutation) ----------------
    probes = slot_refs.select("doc_id", "composite").unionByName(
        mem_refs.select("doc_id", "composite")
    )
    probe_counts = probes.groupBy("doc_id", "composite").agg(
        F.count(F.lit(1)).alias("probe_hits")
    )
    live_rc = (
        live.join(probe_counts, ["doc_id", "composite"], "left")
        .withColumn(
            "ref_count",
            F.coalesce(F.col("probe_hits"), F.lit(0))
            + F.col("member_created").cast("long"),
        )
        .drop("probe_hits")
    )

    # --- J1: way-slot -> node resolution ----------------------------------
    live_nodes = live.filter(F.col("etype") == "node").select(
        "doc_id", "composite",
        F.col("lon").alias("n_lon"), F.col("lat").alias("n_lat"),
    )
    if salt and salt > 1:
        # Deterministic skew salting: replicate the build side `salt` ways and
        # scatter probes by hash — same rows, `salt`× finer reduce keys.
        salt_col = F.pmod(F.xxhash64("owner", "p"), F.lit(salt)).cast("int")
        probe_side = slot_refs.withColumn("skew_salt", salt_col)
        build_side = live_nodes.withColumn(
            "skew_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
        )
        ref_coords = probe_side.join(
            build_side, ["doc_id", "composite", "skew_salt"], "inner"
        ).select("doc_id", "owner", "p", F.col("n_lon").alias("lon"), F.col("n_lat").alias("lat"))
    else:
        ref_coords = slot_refs.join(live_nodes, ["doc_id", "composite"], "inner").select(
            "doc_id", "owner", "p", F.col("n_lon").alias("lon"), F.col("n_lat").alias("lat")
        )

    inline_coords = way_slots.filter(F.col("ref").isNull()).select(
        "doc_id", "owner", "p", "lon", "lat"
    )
    # A1: order restored by the explicit position column, never shuffle order.
    way_coords = (
        inline_coords.unionByName(ref_coords)
        .groupBy("doc_id", "owner")
        .agg(F.array_sort(F.collect_list(F.struct("p", "lon", "lat"))).alias("slots"))
        .select(
            "doc_id", "owner",
            F.to_json(
                F.transform("slots", lambda s: F.array(s["lon"], s["lat"]))
            ).alias("coords_json"),
        )
    )

    # --- J2/J3/J4: member resolution --------------------------------------
    resolved_ref_members = mem_refs.join(
        live_keyed, ["doc_id", "composite"], "inner"
    ).select("doc_id", "rel_inst", "p", "mtype", "target_inst")
    inline_members = members.filter(F.col("kind") == "inline").select(
        "doc_id", "rel_inst", "p", "mtype",
        F.col("inst").alias("target_inst"),
    )
    resolved_members = resolved_ref_members.unionByName(inline_members)

    edges = resolved_members.filter(F.col("mtype") == "relation").select(
        "doc_id",
        F.col("rel_inst").alias("parent_inst"),
        F.col("target_inst").alias("child_inst"),
    )

    return {
        "live": live_rc,
        "way_coords": way_coords,
        "members": resolved_members,
        "edges": edges,
    }


def visibility_filter(live_rc: DataFrame, *, render_tagged: bool, exclude_way: bool) -> DataFrame:
    """P3 (reference ``index.ts:215-217``): an element is skipped iff
    ``refCount>0 AND (¬hasTag OR ¬renderTagged OR (isWay AND excludeWay))``."""
    skip = (F.col("ref_count") > 0) & (
        (~F.col("has_tag"))
        | F.lit(not render_tagged)
        | ((F.col("etype") == "way") & F.lit(exclude_way))
    )
    return live_rc.filter(~skip)


CLOSURE_SCHEMA = "doc_id string, root_inst long, rel_inst long"


def _closure_stream(batches):
    """``mapInPandas`` body over (doc_id, src, dst, is_root) rows sorted by
    ``doc_id`` (an edge src -> dst, or a root with src = dst): holds one document's roots and adjacency at a time (a
    document that straddles an Arrow batch carries into the next one) and
    emits, per root, every relation reachable from it, root included.
    Visited-set BFS, cycle-safe (the reference would blow its stack on
    cycles, ``relation.ts:172-174``)."""
    import pandas as pd

    out_doc: list = []
    out_root: list = []
    out_rel: list = []

    def flush(doc_id, roots, adj):
        for root in roots:
            seen = {root}
            stack = [root]
            while stack:
                cur = stack.pop()
                out_doc.append(doc_id)
                out_root.append(root)
                out_rel.append(cur)
                for nxt in adj.get(cur, ()):
                    if nxt not in seen:
                        seen.add(nxt)
                        stack.append(nxt)

    def take():
        pdf = pd.DataFrame({"doc_id": out_doc, "root_inst": out_root,
                            "rel_inst": out_rel})
        for col in (out_doc, out_root, out_rel):
            col.clear()
        return pdf

    doc, roots, adj = None, [], {}
    for pdf in batches:
        for d, src, dst, is_root in zip(pdf["doc_id"], pdf["src"].tolist(),
                                        pdf["dst"].tolist(), pdf["is_root"]):
            if d != doc:
                flush(doc, roots, adj)
                doc, roots, adj = d, [], {}
            if is_root:
                roots.append(src)
            else:
                adj.setdefault(src, []).append(dst)
        if out_doc:
            yield take()
    flush(doc, roots, adj)
    if out_doc:
        yield take()


def relation_closure(roots: DataFrame, edges: DataFrame) -> DataFrame:
    """A3: transitive closure root -> reachable relation, as
    ``(doc_id, root_inst, rel_inst)``.

    Documents are independent universes, so the closure never crosses
    ``doc_id``: roots and relation->relation edges are tagged, unioned,
    hash-partitioned and sorted by ``doc_id``, and one ``mapInPandas``
    stream per partition runs the BFS (:func:`_closure_stream`) — one Python
    task per shuffle partition, the pattern of the relation kernel stream.
    The edges are relation metadata only, tiny even for mega-documents.

    Output order is irrelevant (a set): the relation kernel re-derives the
    reference's member ordering from its own memoized DFS.
    """
    tagged = roots.select(
        "doc_id", F.col("root_inst").alias("src"),
        F.col("root_inst").alias("dst"), F.lit(True).alias("is_root"),
    ).unionByName(edges.select(
        "doc_id", F.col("parent_inst").alias("src"),
        F.col("child_inst").alias("dst"), F.lit(False).alias("is_root"),
    ))
    return (
        tagged.repartition("doc_id")
        .sortWithinPartitions("doc_id")
        .mapInPandas(_closure_stream, schema=CLOSURE_SCHEMA)
    )
