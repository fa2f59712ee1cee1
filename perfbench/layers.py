"""Per-layer measurement for the traced benchmark run.

Spans are recorded here, in the benchmark, around calls into each engine
module's public functions; nothing inside the engine is instrumented.  A
span has a name, start, end and parent; spans stay in memory and are
written out when the run ends.  A span's self time is its duration minus
the time its child spans cover.

The traced convert pass composes the layers the way
``operators.convert.build_features`` does, but persists and counts each
layer's output inside its own span, so each layer runs once over
already-materialized inputs and the layer self times add up to the pass.
Its output must hash exactly like the untraced passes' output.

Each layer also sets its Spark job description, so the event log (enabled
only in the traced run) attributes executor time, shuffle bytes and task
skew to it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024

# Layers in pipeline order; each is one span name and one job description.
CONVERT_LAYERS = (
    "parse.parse_documents",
    "convert.mega_guards",
    "resolve.resolve_graph",
    "assemble.node_features_kernel",
    "assemble.way_features_kernel",
    "resolve.relation_closure",
    "assemble.relation_kernel_stream",
    "emit.emit_geojson",
)
LINEAGE_LAYER = "lineage.convert_with_lineage"
COUNTERS = "trace.counters"  # row counts taken outside the layer spans


class Tracer:
    """Spans of one run, kept in memory until ``write``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, sc=None):
        """Time ``name``; with a SparkContext, also label its jobs."""
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if sc is not None:
            sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc.setJobDescription(
                    self.spans[parent]["name"] if parent is not None else None)

    def self_times(self) -> dict[str, float]:
        """Self time summed per span name."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out


    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f, indent=0)


# ---------------------------------------------------------------------------
# /proc and JVM probes
# ---------------------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


class ProcProbe:
    """CPU, GC and memory of the Spark JVM and its Python workers."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def codegen_compilations(self) -> int:
        """Whole-stage and expression classes compiled so far by Janino."""
        return int(self._codegen.METRIC_COMPILATION_TIME().getCount())

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM for the Spark JVM")

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._beans) / 1000.0

    def jvm_cpu_s(self) -> float:
        st = _stat(self.pid)
        return (int(st[11]) + int(st[12])) / CLK_TCK

    def descendants(self) -> dict[int, list[str]]:
        """/proc stat fields of every process below the JVM: the Python
        worker daemon and its forked workers."""
        parent: dict[int, int] = {}
        stats: dict[int, list[str]] = {}
        for p in os.listdir("/proc"):
            if p.isdigit() and (st := _stat(int(p))) is not None:
                parent[int(p)] = int(st[1])
                stats[int(p)] = st
        below, frontier = set(), {self.pid}
        while frontier:
            frontier = {p for p, pp in parent.items() if pp in frontier} - below
            below |= frontier
        return {p: stats[p] for p in below}

    def python_cpu_s(self) -> float:
        """CPU of the Python workers, including reaped children."""
        return sum(sum(int(x) for x in st[11:15])
                   for st in self.descendants().values()) / CLK_TCK

    def stop(self, spark, timeout_s: float = 60.0) -> None:
        """Stop the session, then end the JVM and wait until it and the
        Python workers below it have exited."""
        from pyspark import SparkContext

        children = set(self.descendants())
        spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=timeout_s)
        deadline = time.monotonic() + timeout_s
        while any(os.path.exists(f"/proc/{p}") for p in children):
            if time.monotonic() > deadline:
                raise RuntimeError(f"Spark worker processes still running: {children}")
            time.sleep(0.1)

    def snapshot(self) -> dict[str, float]:
        return {"cpu.jvm_s": self.jvm_cpu_s(), "cpu.python_s": self.python_cpu_s(),
                "jvm.gc_s": self.gc_s()}


# ---------------------------------------------------------------------------
# the layered convert pass
# ---------------------------------------------------------------------------


def layered_convert(docs, opts, scope, collect, tracer: Tracer, sc=None) -> tuple[list, dict]:
    """Run the conversion layer by layer under ``tracer``'s spans.  With a
    SparkContext ``sc``, also label the jobs and count the rows the layers
    hold.  Returns ``collect(output)`` (run inside the emit span) and the
    rows counted per layer."""
    from pyspark.sql import functions as F

    from osm2geojson_lite_spark.operators import convert as C
    from osm2geojson_lite_spark.operators.assemble import (
        FEATURE_SCHEMA,
        node_features_kernel,
        relation_kernel_stream,
        way_features_kernel,
    )
    from osm2geojson_lite_spark.operators.emit import emit_geojson
    from osm2geojson_lite_spark.operators.parse import parse_documents
    from osm2geojson_lite_spark.operators.resolve import (
        relation_closure,
        resolve_graph,
        visibility_filter,
    )

    span = tracer.span
    counts: dict[str, int] = {}

    def materialize(name: str, df):
        df = scope.persist(df)
        counts[name] = df.count()
        return df

    with span("parse.parse_documents", sc):
        instances = materialize("parse.parse_documents",
                                parse_documents(C.assemble_payload(docs)))
    with span("convert.mega_guards", sc):
        over = (instances.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > opts.max_doc_instances).limit(1).collect())
    if over:
        raise C.MegaDocumentError(f"document over max_doc_instances: {over}")

    with span("resolve.resolve_graph", sc):
        graph = resolve_graph(instances, salt=opts.salt)
        live = scope.persist(graph["live"])
        way_coords = scope.persist(graph["way_coords"])
        members = scope.persist(graph["members"])
        one = F.lit(1).alias("one")
        (live.select(one).unionAll(way_coords.select(one))
         .unionAll(members.select(one)).count())
    visible = visibility_filter(live, render_tagged=opts.render_tagged,
                                exclude_way=opts.exclude_way)

    with span("assemble.node_features_kernel", sc):
        node_feats = materialize("assemble.node_features_kernel", (
            visible.filter((F.col("etype") == "node") & F.col("latlng_set"))
            .select("doc_id", "out_pos", "composite", "props_json", "tags_json", "lon", "lat")
            .mapInPandas(node_features_kernel, schema=FEATURE_SCHEMA)))
    with span("assemble.way_features_kernel", sc):
        way_feats = materialize("assemble.way_features_kernel", (
            visible.filter(F.col("etype") == "way")
            .select("doc_id", F.col("inst").alias("owner"), "out_pos", "composite",
                    "props_json", "tags_json", "tag_events_json")
            .join(way_coords, ["doc_id", "owner"], "left")
            .mapInPandas(way_features_kernel, schema=FEATURE_SCHEMA)))

    rel_meta = instances.filter(F.col("etype") == "relation").select(
        "doc_id", F.col("inst").alias("rel_inst"),
        "composite", "props_json", "tags_json", "roles_json", "bounds_json")
    nodes_by_inst = instances.filter(F.col("etype") == "node").select(
        "doc_id", F.col("inst").alias("target_inst"),
        F.col("composite").alias("node_comp"),
        F.col("props_json").alias("node_props_json"),
        F.col("tags_json").alias("node_tags_json"),
        F.col("lon").alias("node_lon"), F.col("lat").alias("node_lat"))
    roots = visible.filter(F.col("etype") == "relation").select(
        "doc_id", F.col("inst").alias("root_inst"), "out_pos")

    with span("resolve.relation_closure", sc):
        closure = materialize("resolve.relation_closure",
                              relation_closure(roots, graph["edges"]))
    with span("convert.mega_guards", sc):
        mcounts = members.groupBy("doc_id", "rel_inst").agg(F.count(F.lit(1)).alias("mn"))
        over = (closure.join(mcounts, ["doc_id", "rel_inst"], "left")
                .groupBy("doc_id", "root_inst")
                .agg(F.sum(F.coalesce(F.col("mn"), F.lit(0))).alias("g_rows"))
                .filter(F.col("g_rows") > opts.max_relation_group_rows)
                .limit(1).collect())
    if over:
        raise C.MegaDocumentError(f"relation group over max_relation_group_rows: {over}")

    with span("assemble.relation_kernel_stream", sc):
        kernel_in = (
            closure.join(members, ["doc_id", "rel_inst"])
            .withColumnRenamed("p", "m_p").withColumnRenamed("mtype", "m_mtype")
            .join(way_coords.withColumnRenamed("owner", "target_inst"),
                  ["doc_id", "target_inst"], "left")
            .join(nodes_by_inst, ["doc_id", "target_inst"], "left")
            .withColumn("child_inst", F.col("target_inst"))
            .join(rel_meta, ["doc_id", "rel_inst"])
            .join(roots.select("doc_id", "root_inst", "out_pos"), ["doc_id", "root_inst"])
            .select("doc_id", "root_inst", "rel_inst", "m_p", "m_mtype", "out_pos",
                    "coords_json", "child_inst", "node_comp", "node_props_json",
                    "node_tags_json", "node_lon", "node_lat", "composite", "props_json",
                    "tags_json", "roles_json", "bounds_json"))
        rel_feats = materialize("assemble.relation_kernel_stream", (
            kernel_in.repartition("doc_id", "root_inst")
            .sortWithinPartitions("doc_id", "root_inst")
            .mapInPandas(relation_kernel_stream, schema=FEATURE_SCHEMA)))

    with span("emit.emit_geojson", sc):
        rows = collect(emit_geojson(docs, node_feats, way_feats, rel_feats,
                                    complete_feature=opts.complete_feature))
    counts["emit.emit_geojson"] = len(rows)
    if sc is None:
        return rows, counts

    with span(COUNTERS, sc):
        for name, df in (("resolve.live", live), ("resolve.way_coords", way_coords),
                         ("resolve.members", members)):
            counts[name] = df.count()
        counts["resolve.dangling_refs"] = dangling_refs(instances)
    return rows, counts


def dangling_refs(instances) -> int:
    """Way-node and relation-member references that resolve to no live
    element: the refs the J1/J4 inner joins drop."""
    from pyspark.sql import functions as F

    from osm2geojson_lite_spark.operators.resolve import MEMBERS_T, WAY_SLOTS_T

    live = instances.filter(F.col("is_live")).select("doc_id", "composite", "etype")
    slot_refs = (
        instances.filter(F.col("way_slots_json").isNotNull())
        .select("doc_id", F.explode(F.from_json("way_slots_json", WAY_SLOTS_T)).alias("s"))
        .filter(F.col("s.ref").isNotNull())
        .select("doc_id", F.concat(F.lit("node/"), F.col("s.ref")).alias("composite")))
    mem_refs = (
        instances.filter(F.col("members_json").isNotNull())
        .select("doc_id", F.explode(F.from_json("members_json", MEMBERS_T)).alias("m"))
        .filter(F.col("m.kind") == "ref")
        .select("doc_id", F.concat(F.col("m.mtype"), F.lit("/"), F.col("m.ref"))
                .alias("composite")))
    nodes = live.filter(F.col("etype") == "node").select("doc_id", "composite")
    return (slot_refs.join(nodes, ["doc_id", "composite"], "left_anti").count()
            + mem_refs.join(live.select("doc_id", "composite"),
                            ["doc_id", "composite"], "left_anti").count())


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def eventlog_metrics(events_dir: str, layers: tuple[str, ...]) -> dict[str, float]:
    """Executor seconds, shuffle MB written and task skew per layer (jobs
    attributed by description), plus spill and task totals."""
    files = [f for f in glob.glob(os.path.join(events_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {events_dir}, found {files}")
    stage_layer: dict[int, str] = {}
    tasks: list[tuple[str, int, float, float, float, float]] = []
    with open(files[0], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                for sid in ev.get("Stage IDs", []):
                    stage_layer[sid] = desc
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.append((
                    stage_layer.get(ev["Stage ID"]), ev["Stage ID"],
                    (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                    m.get("Executor Run Time", 0) / 1000.0,
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB,
                    m.get("Disk Bytes Spilled", 0) / MB,
                ))
    out: dict[str, float] = {}
    for layer in layers:
        mine = [t for t in tasks if t[0] == layer]
        out[f"{layer}.executor_s"] = sum(t[3] for t in mine)
        out[f"{layer}.shuffle_mb"] = sum(t[4] for t in mine)
        skew = 1.0
        for sid in {t[1] for t in mine}:
            times = [t[2] for t in mine if t[1] == sid]
            if len(times) > 1 and statistics.median(times) > 0:
                skew = max(skew, max(times) / statistics.median(times))
        out[f"{layer}.task_skew"] = skew
    traced = [t for t in tasks if t[0] in layers]
    out["spark.spill_mb"] = sum(t[5] for t in traced)
    out["spark.tasks"] = float(len(traced))
    return out


# ---------------------------------------------------------------------------
# the traced run's metrics
# ---------------------------------------------------------------------------


def traced_metrics(spark, runner, docs, checker, work: str, tracer: Tracer, *,
                   walls: list[float], build_s: float, compilations: float,
                   probe: ProcProbe, setup: dict) -> dict:
    """Run the traced passes under ``tracer`` and return every per-layer
    metric as ``name -> (value, unit)``.

    ``walls`` are the untraced passes just run.  The layered convert pass
    runs twice, once to warm up its own plans and once measured, then one
    more untraced pass follows: the mean of the untraced passes on either
    side is the base the layers reconcile with, since pass walls keep
    falling from pass to pass.  On ``uniform`` the lineage write follows,
    once.  Stops the session to close the event log."""
    from osm2geojson_lite_spark import CacheScope

    sc = spark.sparkContext
    with CacheScope() as scope:
        checker.check(layered_convert(docs, runner.opts(), scope, runner.rows, Tracer())[0])
    before = probe.snapshot()
    with tracer.span("pass") as root, CacheScope() as scope:
        rows, counts = layered_convert(docs, runner.opts(), scope, runner.rows, tracer, sc)
    after = probe.snapshot()
    checker.check(rows)
    wall_after, _, rows = runner.convert_pass(docs)
    checker.check(rows)
    base_s = (walls[-1] + wall_after) / 2
    layers = CONVERT_LAYERS
    lin: dict = {}
    if runner.workload == "uniform":
        lin = runner.lineage_pass(docs, checker, tracer.span(LINEAGE_LAYER, sc))
        layers += (LINEAGE_LAYER,)

    selfs = tracer.self_times()
    traced_s = (root["end"] - root["start"]) - selfs.get(COUNTERS, 0.0)
    spark.stop()  # flushes and closes the event log
    ev = eventlog_metrics(os.path.join(work, "events"), layers)

    m: dict[str, tuple[float, str]] = {}
    for layer in CONVERT_LAYERS + (LINEAGE_LAYER,):
        m[f"{layer}.s"] = (selfs.get(layer, 0.0), "s")
        for k, unit in (("executor_s", "s"), ("shuffle_mb", "MB"), ("task_skew", "ratio")):
            m[f"{layer}.{k}"] = (ev.get(f"{layer}.{k}", 0.0), unit)
    for name in ("parse.parse_documents", "resolve.live", "resolve.way_coords",
                 "resolve.members", "resolve.relation_closure",
                 "assemble.node_features_kernel", "assemble.way_features_kernel",
                 "assemble.relation_kernel_stream", "emit.emit_geojson"):
        m[f"{name}.rows"] = (counts[name], "count")
    m["resolve.dangling_refs"] = (counts["resolve.dangling_refs"], "count")
    for k, v in before.items():
        m[k] = (after[k] - v, "s")
    m["spark.spill_mb"] = (ev["spark.spill_mb"], "MB")
    m["spark.tasks"] = (ev["spark.tasks"], "count")
    m["codegen.compilations"] = (compilations, "count")
    m["convert.build_features.s"] = (build_s, "s")
    m["convert.emit_pass.s"] = (statistics.median(walls) - build_s, "s")
    m["lineage.commits"] = (lin.get("commits", 0), "count")
    m["lineage.commit_s"] = (lin.get("commit_s", 0.0), "s")
    m["lineage.files"] = (lin.get("files", 0), "count")
    m["lineage.bytes"] = (lin.get("bytes", 0), "B")
    m["trace.overhead_s"] = (traced_s - base_s, "s")
    m["trace.reconcile"] = (sum(selfs.get(x, 0.0) for x in CONVERT_LAYERS) / base_s, "ratio")
    m["error_rate"] = (checker.failed / checker.attempted, "ratio")
    m["passes"] = (checker.attempted, "count")
    for k, v in setup.items():
        m[f"setup.{k}"] = (v, "s")
    return m
