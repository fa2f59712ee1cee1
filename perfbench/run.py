#!/usr/bin/env python3
"""Benchmark of the OSM -> GeoJSON engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload uniform --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads (see perfbench/NOTES.md):

- ``uniform``: ``convert(complete_feature=True)`` over the engine's synthetic
  Overpass-JSON corpus, its result consumed by one driver-side check query.
  Its traced run also times the write path, ``convert_with_lineage`` to
  parquet (16 buckets, 4 per commit), and reads the output back.
- ``skewed``: the same conversion over a heavy-tailed JSON/XML corpus with
  mega documents and a wide super-relation.

Every run is one driver process at a pinned ``local[2]``.  Set-up (session,
input build, one warm-up pass) is timed apart from the measured passes.
Every pass, the warm-up included, is checked: one row per input document,
the exact feature count the corpus generator predicts per document, the
golden documents' GeoJSON md5s (``tests/golden/convert_corpus_100.json``),
and identical per-document GeoJSON on every pass.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
passes with the Spark event log on, then passes layer by layer under spans,
and prints the per-layer metrics.  The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the exit code is
non-zero when any output is wrong or the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CPUS = 2  # pinned below nproc: local[4] on a 4-core host is too noisy
SHUFFLE_PARTITIONS = CPUS  # one wave of tasks per stage
MIN_PASSES = 2
INPUT_BUILDS = 3  # set-up builds the input this many times; median reported
GOLDEN = os.path.join(ROOT, "tests", "golden", "convert_corpus_100.json")
LINEAGE_BUCKETS, LINEAGE_BUCKETS_PER_JOB = 16, 4
WORKLOADS = ("uniform", "skewed")


def host_facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 2**20, 1),
        "loadavg": list(os.getloadavg()),
    }


def driver_memory() -> str:
    """Driver heap sized to the host: a sixth of RAM, 1-2 GB.  The engine's
    own default (48g) gets the driver OOM-killed on a 15 GB host."""
    return f"{max(1, min(2, int(host_facts()['mem_gb'] // 6)))}g"


def start_spark(work: str, trace: bool):
    """The engine's own session (``get_spark``, AQE off, fixed shuffle
    partitions) at a pinned local[CPUS], with the launch-time settings a
    benchmark needs added around it: an explicit heap, and every file the
    JVM, Spark and the Python workers write kept inside ``work``."""
    for d in ("local", "tmp", "events", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    # workers import the engine's kernels: without this every Arrow kernel
    # fails with ModuleNotFoundError
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata
    confs = {
        # a fixed-size heap keeps GC sizing the same from the first pass on;
        # default options come before the engine's own extraJavaOptions
        "spark.driver.defaultJavaOptions": f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": os.path.join(work, "events"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    # pyspark appends these to the engine's builder settings at JVM launch
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"

    from osm2geojson_lite_spark.session import get_spark

    spark = get_spark("perfbench", cpus=CPUS, shuffle_partitions=SHUFFLE_PARTITIONS,
                      adaptive=False)
    # the engine launches the JVM with java.io.tmpdir=/tmp; native libraries
    # and temp files are created lazily, after this
    spark.sparkContext._jvm.java.lang.System.setProperty("java.io.tmpdir", tmp)
    return spark


class Checker:
    """Checks every converted output; counts operations and failures."""

    def __init__(self, expected: dict[str, int]):
        self.expected = expected
        with open(GOLDEN, encoding="utf-8") as f:
            self.golden = {d.replace("doc-", "golden-"): m for d, _, m in json.load(f)}
        self.hashes: dict[str, str] | None = None
        self.attempted = 0
        self.failed = 0

    def check(self, rows) -> bool:
        """rows: (doc_id, n_features, geojson md5, geojson chars) per
        output document."""
        self.attempted += 1
        problems = []
        got = {r[0]: (r[1], r[2]) for r in rows}
        if len(rows) != len(self.expected) or got.keys() != self.expected.keys():
            problems.append(f"{len(rows)} rows for {len(self.expected)} docs")
        else:
            wrong = [d for d, n in self.expected.items() if got[d][0] != n]
            if wrong:
                problems.append(f"{len(wrong)} docs with wrong feature count, e.g. {wrong[:3]}")
            hashes = {d: h for d, (_, h) in got.items()}
            bad = sorted(d for d, m in self.golden.items() if hashes[d] != m)
            if bad:
                problems.append(f"golden md5 mismatch on {len(bad)} docs, e.g. {bad[:3]}")
            if self.hashes is None:
                self.hashes = hashes
            elif hashes != self.hashes:
                problems.append("output differs from the previous pass")
        return self.record(problems)

    def record(self, problems: list[str]) -> bool:
        if problems:
            self.failed += 1
            print("WRONG OUTPUT: " + "; ".join(problems), file=sys.stderr)
        return not problems


def feature_rows(df) -> list[tuple]:
    """(doc_id, n_features, geojson md5, geojson chars) per document."""
    from pyspark.sql import functions as F

    pat = '{"type":"Feature",'
    n = (F.length("geojson") - F.length(F.replace("geojson", F.lit(pat), F.lit("")))
         ) / len(pat)
    return [tuple(r) for r in df.select(
        "doc_id", n.cast("int"), F.md5("geojson"), F.length("geojson")).collect()]


def dir_stats(path: str, suffix: str) -> tuple[int, int]:
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(suffix)]
    return len(files), sum(os.path.getsize(f) for f in files)


class Runner:
    """One workload's input and passes on one Spark session."""

    def __init__(self, spark, workload: str, work: str):
        self.spark = spark
        self.workload = workload
        self.work = work

    rows = staticmethod(feature_rows)

    def opts(self):
        from osm2geojson_lite_spark import Options

        return Options(complete_feature=True)

    def build_input(self, seed: int):
        from perfbench.corpus import skewed_corpus, uniform_corpus

        make = skewed_corpus if self.workload == "skewed" else uniform_corpus
        docs, expected = make(self.spark, seed, partitions=CPUS)
        docs = docs.persist()
        docs.count()
        return docs, expected

    def convert_pass(self, docs) -> tuple[float, float, list]:
        """(wall_s, build_features_s, rows).  The timer starts before
        ``convert()`` is called: it runs the eager build jobs itself."""
        from osm2geojson_lite_spark import CacheScope, convert

        t0 = time.perf_counter()
        with CacheScope() as scope:
            out = convert(docs, self.opts(), scope=scope)
            t_build = time.perf_counter()
            rows = feature_rows(out)
        return time.perf_counter() - t0, t_build - t0, rows

    def lineage_pass(self, docs, checker: Checker, span) -> dict:
        """``convert_with_lineage`` to parquet inside ``span``; the output is
        then read back and checked.  Returns the write's stats."""
        import pyarrow.parquet as pq

        from osm2geojson_lite_spark.lineage import convert_with_lineage

        base = os.path.join(self.work, "lineage")
        out, log = os.path.join(base, "out"), os.path.join(base, "log")
        with span:
            convert_with_lineage(docs, out, log, n_buckets=LINEAGE_BUCKETS,
                                 buckets_per_job=LINEAGE_BUCKETS_PER_JOB, opts=self.opts())
        checker.check(feature_rows(self.spark.read.parquet(out)))
        # one log file per commit; its rows share the commit's wall_ms
        commits = [pq.read_table(f).to_pydict() for f in sorted(glob.glob(
            os.path.join(log, "*.parquet")))]
        logged = sum(sum(c["n_rows"]) for c in commits)
        if logged != len(checker.expected):
            checker.record([f"lineage log counts {logged} rows "
                            f"for {len(checker.expected)} docs"])
        files, nbytes = dir_stats(out, ".parquet")
        shutil.rmtree(base, ignore_errors=True)
        return {"commits": len(commits),
                "commit_s": sum(c["wall_ms"][0] for c in commits) / 1000.0,
                "files": files, "bytes": nbytes}


def run(args) -> dict:
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    sys.path.insert(0, ROOT)
    try:
        import osm2geojson_lite_spark.session  # noqa: F401
        from perfbench import layers
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        sys.exit(2)
    if not os.path.exists(GOLDEN):
        print(f"missing golden file {GOLDEN}", file=sys.stderr)
        sys.exit(2)

    host_start = host_facts()
    t_setup = time.perf_counter()
    spark = start_spark(work, bool(args.trace))
    session_s = time.perf_counter() - t_setup
    probe = layers.ProcProbe(spark)
    tracer = layers.Tracer()
    try:
        runner = Runner(spark, args.workload, work)
        input_s, docs = [], None
        for _ in range(INPUT_BUILDS):
            if docs is not None:
                docs.unpersist()
            t0 = time.perf_counter()
            docs, expected = runner.build_input(args.seed)
            input_s.append(time.perf_counter() - t0)
        checker = Checker(expected)
        t0 = time.perf_counter()
        checker.check(runner.convert_pass(docs)[2])  # JIT, Python workers, codegen
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(input_s) + warmup_s

        walls, builds, out_bytes, compiles = [], [], [], []
        t_end = time.perf_counter() + args.seconds
        while len(walls) < MIN_PASSES or time.perf_counter() < t_end:
            c0 = probe.codegen_compilations()
            wall, build, rows = runner.convert_pass(docs)
            compiles.append(probe.codegen_compilations() - c0)
            checker.check(rows)
            walls.append(wall)
            builds.append(build)
            out_bytes.append(sum(r[3] for r in rows) / len(expected))
            if len(walls) == MIN_PASSES:  # the heap grows with each pass
                peak_rss_mb = probe.jvm_peak_rss_mb()
        wall_s = statistics.median(walls)

        if args.trace:
            metrics = layers.traced_metrics(
                spark, runner, docs, checker, work, tracer,
                walls=walls, build_s=statistics.median(builds), probe=probe,
                compilations=statistics.median(compiles),
                setup={"session_s": session_s, "input_s": statistics.median(input_s),
                       "warmup_s": warmup_s},
            )
        else:
            metrics = {
                "wall_s": (wall_s, "s"),
                "docs_per_s": (len(expected) / wall_s, "1/s"),
                "setup_s": (setup_s, "s"),
                "peak_rss_mb": (peak_rss_mb, "MB"),
                "bytes_per_doc": (statistics.median(out_bytes), "B"),
            }
        report = {"workload": args.workload, "seed": args.seed,
                  "passes": [round(w, 4) for w in walls],
                  "host_start": host_start, "host_end": host_facts(),
                  "run_s_before_stop": round(time.perf_counter() - T_START, 2)}
    finally:
        probe.stop(spark)
        if args.trace:
            tracer.write(work + "-spans.json")
        shutil.rmtree(work, ignore_errors=True)
    report["run_s"] = round(time.perf_counter() - T_START, 2)
    print(json.dumps(report), file=sys.stderr)
    return {
        "correct": checker.failed == 0,
        "attempted": checker.attempted,
        "failed": checker.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    result = run(ap.parse_args())
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
