"""SparkSession factory tuned for the engine.

Local-mode defaults match the host (one core per CPU this process may run
on, single JVM); on a real cluster the same conf applies minus
master/driver-memory, submitted via ``spark-submit --py-files``.
"""

from __future__ import annotations

import os
import sys
import warnings
from collections.abc import Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession


def driver_memory(env: Mapping[str, str], phys_bytes: int) -> str:
    """``spark.driver.memory`` for a local session: ``SPARK_DRIVER_MEMORY``
    when set, else half the host's physical RAM in whole GiB, clamped to
    1g..48g.  In local mode the driver JVM also hosts the executors, while
    the Python workers live outside its heap and need the other half; a
    fixed 48g default got the driver OOM-killed on a 15 GB host."""
    explicit = env.get("SPARK_DRIVER_MEMORY")
    if explicit:
        return explicit
    return f"{max(1, min(48, phys_bytes // (1 << 30) // 2))}g"


def local_cpus(env: Mapping[str, str], usable: int) -> int:
    """Cores of a local session: ``SPARK_GRAFT_CPUS`` when set, else
    ``usable``, the CPUs this process may run on, so that a session (and
    its default shuffle partition count) never assumes cores the host
    does not give it."""
    explicit = env.get("SPARK_GRAFT_CPUS")
    return int(explicit) if explicit else usable


# One conversion compiles about 150 whole-stage and expression classes,
# more than Spark's default 100-entry codegen cache holds, so every pass
# used to evict and recompile its own classes (Janino took 0.4-0.7 s of a
# 3.3 s pass at local[2] on a 4-vCPU VM).  With room for several
# conversions' working sets, passes after the first compile nothing.  A
# static conf: it only takes effect on a session get_spark creates.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(app_name: str = "osm2geojson-lite-spark", *, cpus: int | None = None,
              shuffle_partitions: int | None = None,
              adaptive: bool = True) -> SparkSession:
    """``adaptive``: AQE on by default (cluster-correct: runtime coalesce,
    skew-join splitting).  ``convert()`` has no exchange, so AQE leaves it
    alone.  The benchmark runners still pass ``adaptive=False``: the
    companion queries and the benchmark's traced join-plan pass are
    shuffle-heavy, and AQE makes each of their exchanges its own query
    stage and re-plans between stages, which adds driver-side work and
    plan variants (fresh generated classes) at local scale; fixed
    partition counts also keep runs comparable.  On a real cluster with
    multi-GB partitions AQE pays for itself; skew in the join plan is
    additionally handled explicitly (salting)."""
    if cpus is None:
        cpus = local_cpus(os.environ, len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true" if adaptive else "false")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory(
            os.environ, os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # larger Arrow batches: fewer JVM<->Python round trips per kernel task
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Compression ON everywhere (round 5; rounds 2-4 ran local with it
        # off on a "RAM is plentiful, CPU is contended" trade).  Round 5's
        # host calibration showed this box's wide-parallelism legs are
        # DRAM-bandwidth-bound in many windows (2->8-core scaling: 0.95
        # frequency-bound vs 0.63 DRAM-bound kernels), where lz4 spends
        # cheap ALU to cut bytes through the memory subsystem: interleaved
        # A/B at local[8]/24k docs measured compression-on faster at
        # best-of (+7.6%) and far more stable (walls 43-62s vs 46-75s).
        # It is also the cluster-correct setting - network >> CPU - so
        # local and spark-submit runs now share one transport config.
        .config("spark.sql.inMemoryColumnarStorage.compressed", "true")
        .config("spark.shuffle.compress", "true")
        .config("spark.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions",
                "-XX:+UseParallelGC -Djava.io.tmpdir=/tmp")
    )
    spark = builder.getOrCreate()
    # getOrCreate() silently ignores builder configs when a session already
    # exists in this process.  The SQL confs that matter for plan shape are
    # runtime-mutable — enforce them on whatever session came back so a bench
    # never runs with a stale AQE/shuffle-partition setting (the 4.7x effect
    # documented above).  Immutable mismatches (master/core count) can only
    # be surfaced, not fixed.
    spark.conf.set("spark.sql.adaptive.enabled", "true" if adaptive else "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    actual_master = spark.sparkContext.master
    if actual_master != f"local[{cpus}]":
        warnings.warn(
            f"get_spark requested local[{cpus}] but reused an existing session "
            f"on {actual_master}; core budget differs (stop() it first for a "
            f"pinned run)",
            stacklevel=2,
        )
    codegen_entries = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    if codegen_entries < CODEGEN_CACHE_ENTRIES:
        warnings.warn(
            f"get_spark reused an existing session whose codegen cache holds "
            f"{codegen_entries} entries, fewer than {CODEGEN_CACHE_ENTRIES}; "
            f"every conversion will recompile its generated classes (stop() "
            f"it first)",
            stacklevel=2,
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def wave_aligned(n: int, cores: int) -> int:
    """Smallest multiple of ``cores`` >= ``n`` (and >= ``cores``).

    A reduce stage whose partition count is not a multiple of the core
    budget leaves the remainder of its last scheduling wave idle for the
    stage's whole tail: 21 partitions on 32 cores idles 11 cores — that
    alone caps a 4-executor leg at 0.66 efficiency (measured 0.574 in an
    early cluster pair with exactly that shape).
    """
    if cores <= 0:
        return max(1, n)
    return max(1, -(-max(1, n) // cores)) * cores


@contextmanager
def data_sized_shuffle(spark: SparkSession, n_rows: int, *,
                       rows_per_partition: int = 20_000):
    """Temporarily size ``spark.sql.shuffle.partitions`` to a MEASURED row
    count for an eagerly-executed region (iterative loops whose per-round
    tables are far smaller than the corpus the session conf is tuned for).

    Scale-adaptive in both directions: above one scheduling wave the count
    is wave-aligned to ``defaultParallelism`` (cluster-width multiples, no
    idle remainder wave); below it, tiny inputs stop paying a full wave of
    near-empty tasks per shuffle stage (measured ~6s/round -> ~0.7s/round
    on a 20k-row graph at local[32]).  Restores the previous value on
    exit; lazily-returned DataFrames evaluated after the region run on
    the caller's partitioning.
    """
    cores = spark.sparkContext.defaultParallelism
    target = max(1, int(n_rows) // rows_per_partition)
    p = wave_aligned(target, cores) if target >= cores else int(target)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(p))
        yield p
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def prewarm_python_workers(spark: SparkSession, *, cores: int | None = None) -> None:
    """Boot one Arrow-capable Python worker per task slot NOW.

    Python workers otherwise start lazily inside the first Arrow-kernel
    stage, serializing interpreter startup into the first data wave's
    critical path.  One trivial ``mapInPandas`` over ``defaultParallelism``
    single-row partitions forces every slot to spawn (and, with the default
    ``spark.python.worker.reuse``, keep) its worker while the job is
    otherwise idle — session setup overlaps worker startup instead of the
    first kernel stage paying it.
    """
    if cores is None:
        cores = spark.sparkContext.defaultParallelism
    (
        spark.range(cores).repartition(cores)
        .mapInPandas(lambda batches: batches, schema="id long")
        .write.format("noop").mode("overwrite").save()
    )


def skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_mtime_ns, st_size)`` changed since the archive was last read.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task, so that files shipped with the task become importable
    (``pyspark/worker_util.py`` ``setup_spark_files``).  On CPython < 3.12
    that makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read
    its archive's whole directory right away; 3.12 made the re-read lazy
    (gh-103200).  A PySpark 4.1 worker holds 16 of them (12 package paths
    inside ``pyspark.zip``, two for the spark-core jar, two for py4j), so
    each task spent 0.12-0.17 s re-reading archives nobody changed: more
    than a ``convert()`` task's own work at local[2].  Now the importers of one archive share one read,
    and only an archive whose stamp moved is read again, so a ``pyFiles``
    zip re-added with new content still is.

    Idempotent, and a no-op on Python 3.12+.  The package calls it on
    import inside a Python worker only (``__init__.py``); the driver's
    import machinery is left as it is."""
    if sys.version_info >= (3, 12):
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "rereads_changed_only", False):
        return
    stamps: dict[str, tuple[int, int] | None] = {}  # archive -> stamp at last read

    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(archive)
        if stamp is not None and files is not None and stamps.get(archive) == stamp:
            self._files = files
            return
        # stat before reading: a write racing the read leaves an old stamp,
        # so the next call reads again
        reread(self)
        stamps[archive] = stamp if archive in zipimport._zip_directory_cache else None

    invalidate_caches.rereads_changed_only = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
