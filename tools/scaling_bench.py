"""Two-scale benchmark: the same job at N and 4N parallelism (default
local[2] vs local[8], both taskset-pinned — the sandbox proxy for N vs 4N
cores per BASELINE.md; see tools/cluster_bench.py for the true
multi-executor variant).

Measures steady-state conversion throughput at both scales, asserts
byte-identical outputs (GeoJSON md5 per doc, tile assignments, kNN results,
PIP pairs), and reports scaling efficiency = thr(4N) / (4 * thr(N)).
Writes scaling_result_<N>v<4N>.json; BENCH.md summarizes the runs.

The timed region is IDENTICAL to bench.py's headline (full conversion
forced through the distributed noop sink): round 1 timed a driver-side
``collect()`` of per-doc md5s instead, whose serial fetch+convert tax
(measured 33.4s -> 57.4s on the same 32k-doc job) both deflated absolute
throughput and distorted the scaling ratio.  Output hashes for the
byte-identical assertion are computed OUTSIDE the timed region.

Each scale runs in its own pinned subprocess (one JVM per parallelism).

Usage: python tools/scaling_bench.py [--docs 48000] [--pair 8,32]
       python tools/scaling_bench.py --worker <cpus> <n_docs> <sf_dir>
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def worker(cpus: int, n_docs: int, sf_dir: str) -> None:
    from pyspark.sql import functions as F

    from osm2geojson_lite_spark import Options, convert
    from osm2geojson_lite_spark.session import get_spark
    from osm2geojson_lite_spark.sources.synth import generate_documents

    # SAME partitioning at both scales — on a cluster, partition counts are
    # sized to the data, not to whichever cluster runs the job.  Identical
    # partitioning also means identical plans and identical task sets; only
    # the parallelism consuming them differs.  (Sizing partitions to cores,
    # as round 1 did, made every stage a single wave at 4N — the slowest
    # task set each stage's wall time, which is tail loss, not dataflow.)
    # Partition counts sized to the DATA (~1500 docs of work per task) and
    # identical at both parallelism levels — the cluster-realistic shape.
    # Round 1 sized partitions to cores instead, which both (a) made every
    # 4N stage a single-wave tail race and (b) at finer grains drowned the
    # 4N run in per-task Python/Arrow overhead (measured at 24k docs,
    # local[8]: 16/8 parts -> 573.8 docs/s, 64/32 parts -> 474.7 docs/s).
    input_parts = int(os.environ.get("SPARK_GRAFT_INPUT_PARTS",
                                     str(max(16, n_docs // 1500))))
    shuffle_parts = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTS",
                                       str(max(8, n_docs // 3000))))
    spark = get_spark(f"scale-{cpus}", cpus=cpus, shuffle_partitions=shuffle_parts,
                      adaptive=False)
    # warm up codegen + python workers outside the timed region (one-time
    # JVM cost identical at any scale, not part of throughput)
    convert(
        generate_documents(spark, 16, partitions=8), Options(complete_feature=True)
    ).write.format("noop").mode("overwrite").save()
    docs = generate_documents(spark, n_docs, partitions=input_parts).persist()
    docs.count()

    # one warm execution (pays one-time C2 JIT of the generated code), then
    # measured executions; report the BEST — this host is shared, and
    # back-to-back identical runs vary +-15% with neighbor load, which is
    # not a property of the dataflow.  In --repeats mode the outer harness
    # interleaves whole N/4N pairs instead, so each leg runs fewer inner
    # executions (the repeat distribution replaces inner best-of).  Timed
    # region == bench.py's: full conversion through the distributed noop sink.
    timed_execs = int(os.environ.get("SPARK_GRAFT_TIMED_EXECS", "3"))

    def _cpu_ticks():
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    # host-contention telemetry around the timed region (VERDICT r4 #3:
    # a loaded sample must be self-describing IN the artifact): busy% of
    # all host cores (our pinned leg accounts for cpus/ncpu of it — the
    # excess is neighbor load) and hypervisor steal%.
    ticks0, load0 = _cpu_ticks(), os.getloadavg()
    walls = []
    for i in range(1 + timed_execs):
        t0 = time.perf_counter()
        convert(docs, Options(complete_feature=True)).write.format(
            "noop"
        ).mode("overwrite").save()
        if i > 0:
            walls.append(time.perf_counter() - t0)
    wall = min(walls)
    ticks1, load1 = _cpu_ticks(), os.getloadavg()
    d = [a - b for a, b in zip(ticks1, ticks0)]
    tot = sum(d) or 1
    host_busy_pct = round(100.0 * (tot - d[3] - d[4]) / tot, 2)
    steal_pct = round(100.0 * d[7] / tot, 3)

    # byte-identity hash, untimed (driver-side collect tax excluded)
    out = convert(docs, Options(complete_feature=True)).select(
        "doc_id", F.md5("geojson").alias("h")
    )
    rows = sorted((r["doc_id"], r["h"]) for r in out.collect())
    convert_md5 = hashlib.md5(json.dumps(rows).encode()).hexdigest()

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    hashes = {}
    for name in ("raster_assign", "tile_cells", "knn_cells", "pip_diamonds"):
        df = qs[name](spark, sf_dir)
        cols = sorted(df.columns)
        data = sorted(tuple(repr(r[c]) for c in cols) for r in df.collect())
        hashes[name] = hashlib.md5(json.dumps(data).encode()).hexdigest()

    print(json.dumps({
        "cpus": cpus,
        "n_docs": n_docs,
        "wall_s": round(wall, 3),
        "docs_per_sec": round(n_docs / wall, 2),
        "host_busy_pct": host_busy_pct,
        "steal_pct": steal_pct,
        "load1": [round(load0[0], 2), round(load1[0], 2)],
        "convert_md5": convert_md5,
        "hashes": hashes,
    }))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        worker(int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
        return

    n_docs = 48000
    n_cpus, n4_cpus = 2, 8
    repeats = 1
    sf_dir = "/root/testdata/sf0.01"
    args = sys.argv[1:]
    for i, a in enumerate(args):
        if a == "--docs":
            n_docs = int(args[i + 1])
        if a == "--sf":
            sf_dir = args[i + 1]
        if a == "--pair":            # e.g. --pair 8,32
            n_cpus, n4_cpus = (int(x) for x in args[i + 1].split(","))
        if a == "--repeats":         # interleaved A/B pairs (>=5 per VERDICT r2)
            repeats = int(args[i + 1])

    def run_leg(cpus: int) -> dict:
        # Pin each run to exactly its core budget: unpinned, the N-scale
        # run's Python UDF workers / GC / shuffle threads spill onto all 32
        # host cores and borrow unaccounted hardware.
        pin = ["taskset", "-c", f"0-{cpus - 1}"]
        env = dict(os.environ)
        if repeats > 1:
            # the repeat distribution replaces inner best-of-3
            env.setdefault("SPARK_GRAFT_TIMED_EXECS", "1")
        proc = subprocess.run(
            pin + [sys.executable, os.path.abspath(__file__), "--worker",
                   str(cpus), str(n_docs), sf_dir],
            capture_output=True, text=True, timeout=3000, cwd=ROOT,
            env=env,
        )
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        res = json.loads(line)
        print(f"local[{cpus}]: {res['docs_per_sec']} docs/sec", flush=True)
        return res

    # Interleave whole N/4N pairs (N,4N,N,4N,...) so slow drifts in external
    # host load hit both legs of a pair about equally and bias cancels in
    # the per-pair ratio; the median over pairs is the headline.
    runs = []
    for rep in range(repeats):
        rn = run_leg(n_cpus)
        r4 = run_leg(n4_cpus)
        eff = r4["docs_per_sec"] / (4 * rn["docs_per_sec"])
        identical = (rn["convert_md5"] == r4["convert_md5"]
                     and rn["hashes"] == r4["hashes"])
        print(f"pair {rep + 1}/{repeats}: efficiency {eff:.3f}; "
              f"byte-identical: {identical}", flush=True)
        runs.append({"pair": rep + 1,
                     f"local{n_cpus}_docs_per_sec": rn["docs_per_sec"],
                     f"local{n4_cpus}_docs_per_sec": r4["docs_per_sec"],
                     "efficiency": round(eff, 3),
                     "byte_identical": identical,
                     "host_busy_pct": [rn.get("host_busy_pct"),
                                       r4.get("host_busy_pct")],
                     "steal_pct": [rn.get("steal_pct"), r4.get("steal_pct")],
                     "load1": [rn.get("load1"), r4.get("load1")],
                     "convert_md5": rn["convert_md5"]})

    effs = sorted(r["efficiency"] for r in runs)
    median = effs[len(effs) // 2] if len(effs) % 2 else round(
        (effs[len(effs) // 2 - 1] + effs[len(effs) // 2]) / 2, 3)
    out = {"n_docs": n_docs, "sf_dir": sf_dir,
           "pair": [n_cpus, n4_cpus], "repeats": repeats,
           "efficiency_median": median,
           "efficiency_min": effs[0], "efficiency_max": effs[-1],
           "all_byte_identical": all(r["byte_identical"] for r in runs),
           "runs": runs}
    suffix = "_repeats" if repeats > 1 else ""
    path = os.path.join(ROOT, f"scaling_result_{n_cpus}v{n4_cpus}{suffix}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=2)
    print(f"median efficiency {median} (min {effs[0]}, max {effs[-1]}); "
          f"wrote {path}")


if __name__ == "__main__":
    main()
