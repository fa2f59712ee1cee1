"""True multi-executor scaling bench: Spark standalone cluster on this host,
N vs 4N executors (1 vs 4 workers, 8 cores each, separate JVMs, each worker
taskset-pinned to its own core range), driver via spark-submit semantics
(``master=spark://...``, engine shipped to executors via --py-files zip).

This matches the north rule's wording — "run via spark-submit --py-files on
a multi-executor cluster at two cluster sizes (N and 4N executors)" — and
removes the shared-JVM ceiling of local[k] measurements: each executor has
its own heap/GC and its own Python worker pool.

Usage: python tools/cluster_bench.py [--docs 64000]
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyspark

SPARK_HOME = os.path.dirname(pyspark.__file__)
SPARK_CLASS = os.path.join(SPARK_HOME, "bin", "spark-class")
MASTER_URL = "spark://127.0.0.1:7077"
PY = sys.executable


def build_engine_zip(path: str = "/tmp/engine.zip") -> str:
    root = os.path.join(ROOT, "osm2geojson_lite_spark")
    with zipfile.ZipFile(path, "w") as z:
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, ROOT))
    return path


def start_master(env):
    return subprocess.Popen(
        [SPARK_CLASS, "org.apache.spark.deploy.master.Master",
         "-h", "127.0.0.1", "-p", "7077", "--webui-port", "8090"],
        env=env, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )


def start_worker(i: int, env):
    cores = f"{8 * i}-{8 * i + 7}"
    return subprocess.Popen(
        ["taskset", "-c", cores, SPARK_CLASS,
         "org.apache.spark.deploy.worker.Worker", MASTER_URL,
         "-c", "8", "-m", "14g", "-p", str(50100 + i),
         "--webui-port", str(8190 + i)],
        env=env, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )


def run_job(n_executors: int, n_docs: int, py_files: str, *,
            shuffle_parts: int, input_parts: int, aqe: bool = False,
            timed_execs: int = 3) -> dict:
    """Run the measurement job as a driver against the standalone master."""
    code = f"""
import hashlib, json, time
from pyspark.sql import SparkSession, functions as F
import sys
sys.path.insert(0, {ROOT!r})
from osm2geojson_lite_spark import Options, convert
from osm2geojson_lite_spark.sources.synth import generate_documents

spark = (SparkSession.builder.master("{MASTER_URL}")
    .appName("scale-{n_executors}x")
    .config("spark.cores.max", "{8 * n_executors}")
    .config("spark.executor.cores", "8")
    .config("spark.executor.memory", "12g")
    .config("spark.submit.pyFiles", "{py_files}")
    .config("spark.sql.shuffle.partitions", "{shuffle_parts}")
    .config("spark.sql.adaptive.enabled", "{str(aqe).lower()}")
    .config("spark.locality.wait", "0s")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
    .config("spark.eventLog.enabled", "{str(bool(os.environ.get('CLUSTER_BENCH_EVENTLOG'))).lower()}")
    .config("spark.eventLog.dir", "/tmp/sparklog-cluster")
    .config("spark.ui.enabled", "false")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

# unified methodology (see tools/scaling_bench.py): data-sized partitions
# identical at both cluster sizes; 1 warm + N measured noop-forced runs,
# best reported; byte-identity md5 computed outside the timed region.
# Prewarm boots one Python worker per task slot BEFORE any kernel stage
# (engine helper, round 4): worker startup overlaps setup, not the first
# data wave.
from osm2geojson_lite_spark.session import prewarm_python_workers
prewarm_python_workers(spark)
convert(generate_documents(spark, 16, partitions=8), Options(complete_feature=True)).write.format("noop").mode("overwrite").save()
docs = generate_documents(spark, {n_docs}, partitions={input_parts}).persist()
docs.count()
walls = []
for i in range({1 + timed_execs}):
    t0 = time.perf_counter()
    convert(docs, Options(complete_feature=True)).write.format("noop").mode("overwrite").save()
    if i > 0:
        walls.append(time.perf_counter() - t0)
wall = min(walls)
out = convert(docs, Options(complete_feature=True)).select("doc_id", F.md5("geojson").alias("h"))
rows = sorted((r["doc_id"], r["h"]) for r in out.collect())
h = hashlib.md5(json.dumps(rows).encode()).hexdigest()
print("RESULT " + json.dumps({{"executors": {n_executors}, "wall_s": round(wall, 2),
    "docs_per_sec": round({n_docs} / wall, 2), "convert_md5": h}}))
spark.stop()
"""
    env = dict(os.environ, PYSPARK_PYTHON=PY, PYSPARK_DRIVER_PYTHON=PY,
               SPARK_HOME=SPARK_HOME)
    proc = subprocess.run([PY, "-c", code], capture_output=True, text=True,
                          timeout=3000, env=env, cwd=ROOT)
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"job failed:\n{proc.stdout[-3000:]}\n{proc.stderr[-3000:]}")


def main() -> None:
    n_docs = 64000
    aqe = False
    timed_execs = 3
    out_path = os.path.join(ROOT, "cluster_bench_result.json")
    args = sys.argv[1:]
    for i, a in enumerate(args):
        if a == "--docs":
            n_docs = int(args[i + 1])
        if a == "--aqe":
            aqe = True
        if a == "--timed-execs":
            timed_execs = int(args[i + 1])
        if a == "--out":
            out_path = args[i + 1]

    # Partition counts identical at both cluster sizes (plan identity),
    # wave-aligned to the 4N leg's 32-core budget via the ENGINE's default
    # sizing (session.wave_aligned — data-sized partitions rounded up to
    # whole scheduling waves; round 4 moved this from hand-passed env
    # overrides into the engine).  Env vars remain as explicit overrides.
    # Shuffle stages get ~3 waves, not 1: the relation kernel's per-task
    # skew (measured max 14.4s vs mean 3.6s in a single 32-task wave) makes
    # a 1-wave stage's wall = its straggler; at 96 partitions the max task
    # drops to 5.9s and in-dataflow occupancy at 4 executors clears 0.90
    # (cluster_bench_r4.json vs _r4b.json, same throughput within noise —
    # the robust choice for real clusters where stragglers dominate).
    from osm2geojson_lite_spark.session import wave_aligned

    input_parts = int(os.environ.get(
        "CLUSTER_BENCH_INPUT_PARTS", wave_aligned(n_docs // 750, 32)))
    shuffle_parts = int(os.environ.get(
        "CLUSTER_BENCH_SHUFFLE_PARTS", wave_aligned(n_docs // 500, 32)))

    env = dict(os.environ, SPARK_HOME=SPARK_HOME,
               SPARK_MASTER_OPTS="-Dspark.deploy.spreadOut=false",
               SPARK_LOG_DIR="/tmp/spark-logs", SPARK_PID_DIR="/tmp/spark-pids",
               PYSPARK_PYTHON=PY)
    os.makedirs("/tmp/spark-logs", exist_ok=True)
    py_files = build_engine_zip()

    results = {}
    procs = [start_master(env)]
    time.sleep(6)
    try:
        for n_exec in (1, 4):
            workers = [start_worker(i, env) for i in range(n_exec)]
            procs += workers
            time.sleep(8)
            results[n_exec] = run_job(
                n_exec, n_docs, py_files, shuffle_parts=shuffle_parts,
                input_parts=input_parts, aqe=aqe, timed_execs=timed_execs)
            print(f"{n_exec} executors: {results[n_exec]}", flush=True)
            for w in workers:
                w.terminate()
            time.sleep(3)
    finally:
        for p in procs:
            try:
                p.terminate()
            except Exception:
                pass

    r1, r4 = results[1], results[4]
    eff = r4["docs_per_sec"] / (4 * r1["docs_per_sec"])
    identical = r1["convert_md5"] == r4["convert_md5"]
    print(f"scaling efficiency N->4N executors: {eff:.3f}; byte-identical: {identical}")
    with open(out_path, "w") as f:
        json.dump({"n_docs": n_docs, "aqe": aqe,
                   "input_parts": input_parts, "shuffle_parts": shuffle_parts,
                   "one_executor": r1, "four_executors": r4,
                   "efficiency": round(eff, 3), "byte_identical": identical}, f, indent=2)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
