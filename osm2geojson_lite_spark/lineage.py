"""Per-partition checkpoint / lineage / resume (X6, north rule).

A killed run must resume without recomputing completed partitions.  The
lineage log is an append-only table keyed ``(run_id, partition_key)`` with
status + metrics; on restart, pending work = all partitions anti-joined
against the completed set.

Storage: Iceberg when a catalog is configured (``table://`` identifiers);
this sandbox has no Iceberg runtime jar, so the default backend is an
append-only parquet directory with identical schema and semantics — the
``_lineage`` layout matches what an Iceberg ``_lineage`` table would hold,
and the writer is the single swap point.

The work unit is a deterministic *bucket* of the document key
(``pmod(xxhash64(doc_id), n_buckets)``), giving uniform, scale-independent
partitions: the same doc always lands in the same bucket at any cluster
size, so resume is byte-stable.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

LINEAGE_SCHEMA = (
    "run_id string, partition_key string, status string, n_rows long, "
    "wall_ms long, finished_at_ms long"
)


class LineageLog:
    """Append-only lineage table.

    The log is metadata — a handful of rows per commit — so on a local
    filesystem it is written/read driver-side with pyarrow (microseconds)
    instead of scheduling a Spark job per checkpoint commit: at 16 buckets /
    4 jobs the four ``createDataFrame().write`` jobs were a measurable slice
    of the lineage fixed cost.  Remote URIs (``s3://`` etc.) keep the Spark
    path — still one tiny job per commit, dwarfed by the data write it
    follows.  Both sides produce the same parquet layout (one file per
    append), so logs are interchangeable between backends.
    """

    def __init__(self, path: str):
        self.path = path

    def _is_local(self) -> bool:
        scheme = self.path.split("://", 1)[0] if "://" in self.path else ""
        return scheme in ("", "file")

    def _local_dir(self) -> str:
        return self.path.split("://", 1)[1] if "://" in self.path else self.path

    def completed_keys(self, spark: SparkSession, run_id: str) -> list[str]:
        if self._is_local():
            import glob

            import pyarrow.parquet as pq

            files = sorted(glob.glob(os.path.join(self._local_dir(), "*.parquet")))
            keys: set[str] = set()
            for f in files:
                t = pq.read_table(f, columns=["run_id", "partition_key", "status"])
                for r, k, s in zip(t.column("run_id").to_pylist(),
                                   t.column("partition_key").to_pylist(),
                                   t.column("status").to_pylist()):
                    if r == run_id and s == "done":
                        keys.add(k)
            return sorted(keys)
        try:
            df = spark.read.schema(LINEAGE_SCHEMA).parquet(self.path)
        except Exception:
            return []
        rows = (
            df.filter((F.col("run_id") == run_id) & (F.col("status") == "done"))
            .select("partition_key").distinct().collect()
        )
        return [r["partition_key"] for r in rows]

    def mark_done(self, spark: SparkSession, run_id: str, keys_rows: list[tuple[str, int]],
                  wall_ms: int) -> None:
        """Append one 'done' record per (partition_key, n_rows) — a single
        commit per job, not per bucket."""
        now = int(time.time() * 1000)
        rows = [(run_id, k, "done", n, wall_ms, now) for k, n in keys_rows]
        if self._is_local():
            import pyarrow as pa
            import pyarrow.parquet as pq

            d = self._local_dir()
            os.makedirs(d, exist_ok=True)
            cols = list(zip(*rows))
            table = pa.table(
                {
                    "run_id": pa.array(cols[0], pa.string()),
                    "partition_key": pa.array(cols[1], pa.string()),
                    "status": pa.array(cols[2], pa.string()),
                    "n_rows": pa.array(cols[3], pa.int64()),
                    "wall_ms": pa.array(cols[4], pa.int64()),
                    "finished_at_ms": pa.array(cols[5], pa.int64()),
                }
            )
            # unique filename per append; one-shot single-file write gives
            # the same visibility contract as parquet append mode
            fname = f"part-{now}-{uuid.uuid4().hex}.parquet"
            pq.write_table(table, os.path.join(d, fname))
            return
        spark.createDataFrame(rows, LINEAGE_SCHEMA).coalesce(1).write.mode("append").parquet(self.path)


def bucket_col(key, n_buckets: int):
    """Deterministic document bucket.

    The key is cast to string first so the input side (any ``doc_id`` type)
    and the converted output side (``convert()`` emits ``doc_id`` as string
    — see ``operators/convert.py``) hash to the SAME bucket; without the cast a
    bigint ``doc_id`` would bucket differently before and after conversion.
    """
    return F.pmod(F.xxhash64(key.cast("string")), F.lit(n_buckets)).cast("int")


def convert_with_lineage(docs: DataFrame, output_path: str, lineage_path: str, *,
                         run_id: str | None = None, n_buckets: int = 16,
                         buckets_per_job: int = 4, opts=None,
                         fail_after_jobs: int | None = None,
                         fail_mid_commit: int | None = None) -> str:
    """Run the conversion pipeline checkpointed per bucket group.

    Each *job* commits ``buckets_per_job`` buckets: it *overwrites* exactly
    those bucket partitions of ``output_path`` (parquet partitioned by
    ``bucket``, ``partitionOverwriteMode=dynamic``), then marks them done in
    the lineage log.  Overwrite-per-partition makes the write idempotent: a
    crash *between* the data write and ``mark_done`` re-runs the job on
    resume and replaces the same partitions instead of appending duplicates.
    Re-invoking with the same ``run_id`` anti-joins completed buckets and
    processes only the remainder.

    **Compute is shared across commits**: ``convert()`` runs ONCE over all
    pending buckets inside one :class:`CacheScope` (which persists and fills
    its output), and then every commit is a cheap cached filter + partition
    write.  The commit granularity, and therefore the crash-loss window, is
    still ``buckets_per_job`` buckets per lineage record.  The cache is
    ``persist()``'s MEMORY_AND_DISK_DESER, so an output larger than storage
    memory spills to disk rather than failing.

    Per-bucket row counts ride on the write via ``df.observe`` — no second
    scan of the sink (at scale that would be a full re-read per checkpoint).
    The bucket column is derived from ``doc_id`` on BOTH the input filter
    and the converted output (see :func:`bucket_col`) — no join against the
    input corpus.

    ``fail_after_jobs`` injects a crash before committing job N (kill/resume
    tests); ``fail_mid_commit`` injects one *between* job N's data write and
    its ``mark_done`` — the window the dynamic-overwrite write makes safe.
    Returns the run_id.
    """
    from pyspark.sql import Observation

    from .operators.convert import CacheScope, Options, convert

    spark = docs.sparkSession
    opts = opts or Options(complete_feature=True)
    run_id = run_id or uuid.uuid4().hex
    log = LineageLog(lineage_path)

    done = set(log.completed_keys(spark, run_id))
    pending = [b for b in range(n_buckets) if str(b) not in done]
    jobs = [pending[i: i + buckets_per_job] for i in range(0, len(pending), buckets_per_job)]
    if not jobs:
        return run_id

    subset = docs.filter(bucket_col(F.col("doc_id"), n_buckets).isin(pending))
    with CacheScope() as scope:
        # convert() fills its cache eagerly, so every commit is a filtered
        # read of it, never a pipeline re-run
        converted = convert(subset, opts, scope=scope).withColumn(
            "bucket", bucket_col(F.col("doc_id"), n_buckets)
        )
        for ji, group in enumerate(jobs):
            if fail_after_jobs is not None and ji >= fail_after_jobs:
                raise RuntimeError(
                    f"injected failure before job {ji} (run {run_id})"
                )
            t0 = time.time()
            result = converted.filter(F.col("bucket").isin(group))
            obs = Observation(f"lineage-{run_id}-{ji}")
            observed = result.observe(
                obs,
                *[
                    F.sum(F.when(F.col("bucket") == b, 1).otherwise(0)).alias(f"b{b}")
                    for b in group
                ],
            )
            (observed.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("bucket").parquet(output_path))
            if fail_mid_commit is not None and ji >= fail_mid_commit:
                raise RuntimeError(
                    f"injected failure after write, before mark_done of job {ji} "
                    f"(run {run_id})"
                )
            wall_ms = int((time.time() - t0) * 1000)
            counts = obs.get
            log.mark_done(
                spark, run_id,
                [(str(b), int(counts.get(f"b{b}") or 0)) for b in group],
                wall_ms,
            )
    return run_id
