"""X6 checkpoint/lineage/resume + streaming ingest + span invariant (X5)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from osm2geojson_lite_spark import Options, convert
from osm2geojson_lite_spark.lineage import LineageLog, convert_with_lineage
from osm2geojson_lite_spark.sources.synth import generate_documents
from osm2geojson_lite_spark.streaming.ingest import stream_convert


def test_kill_resume_no_recompute(spark, tmp_path):
    docs = generate_documents(spark, 40).persist()
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    overwrite_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")

    # run 1: crash after 2 of 4 jobs (8 buckets, 2 per job)
    with pytest.raises(RuntimeError, match="injected failure"):
        convert_with_lineage(
            docs, out, lin, run_id="run1", n_buckets=8, buckets_per_job=2,
            fail_after_jobs=2,
        )
    done_before = set(LineageLog(lin).completed_keys(spark, "run1"))
    assert len(done_before) == 4
    partial = spark.read.parquet(out)
    n_partial = partial.count()
    assert 0 < n_partial < 40

    # run 2 (resume): completes only the remaining buckets
    convert_with_lineage(docs, out, lin, run_id="run1", n_buckets=8, buckets_per_job=2)
    result = spark.read.parquet(out)
    assert result.count() == 40
    assert result.select("doc_id").distinct().count() == 40  # no recompute dups
    assert set(LineageLog(lin).completed_keys(spark, "run1")) == {str(b) for b in range(8)}
    # dynamic overwrite is a writer option, not a session setting
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == overwrite_mode

    # resumed output identical to a fresh single-shot run
    fresh = {r["doc_id"]: r["geojson"]
             for r in convert(docs, Options(complete_feature=True)).collect()}
    for r in result.collect():
        assert fresh[r["doc_id"]] == r["geojson"]


def test_streaming_ingest_converts_drops(spark, tmp_path):
    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    generate_documents(spark, 12).write.parquet(inp)

    q = stream_convert(spark, inp, outp, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(outp)
    assert got.count() == 12

    # second drop: only the new file is processed (checkpoint offsets)
    generate_documents(spark, 5, seed=43).withColumn(
        "doc_id", F.concat(F.lit("b-"), F.col("doc_id"))
    ).write.mode("append").parquet(inp)
    q2 = stream_convert(spark, inp, outp, ckpt)
    q2.awaitTermination(120)
    final = spark.read.parquet(outp)
    assert final.count() == 17
    assert final.select("doc_id").distinct().count() == 17
    sample = json.loads(final.limit(1).collect()[0]["geojson"])
    assert sample["type"] in ("FeatureCollection",)


def test_span_sequence_invariant(spark):
    """X5: (kind, text, media_ref) ordered by offset is identical before and
    after running the engine — documents pass through untouched."""
    docs = generate_documents(spark, 25).persist()
    before = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"])
                      for s in sorted(r["spans"], key=lambda s: s["offset"])]
        for r in docs.collect()
    }
    out = convert(docs, Options(complete_feature=True))
    assert out.count() == 25  # engine ran
    after = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"])
                      for s in sorted(r["spans"], key=lambda s: s["offset"])]
        for r in docs.collect()
    }
    assert before == after
    media_docs = [d for d, spans in after.items() if any(k == "media" for k, _, _ in spans)]
    assert media_docs  # corpus actually interleaves media spans


def test_streaming_tile_stats_window_watermark(spark, tmp_path):
    """Event-time tumbling windows + watermark over the cell index: counts
    match a batch groupBy of the same input; late rows beyond the watermark
    are dropped once the window is finalized."""
    import datetime

    from osm2geojson_lite_spark.streaming.tile_stats import (
        EVENT_SCHEMA,
        stream_tile_stats,
    )
    from osm2geojson_lite_spark.spatial import cell_col

    inp = str(tmp_path / "ev_in")
    outp = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ckpt")
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (i, base + datetime.timedelta(minutes=i % 40), -10.0 + i * 0.5, 40.0 + i * 0.25)
        for i in range(80)
    ]
    spark.createDataFrame(rows, EVENT_SCHEMA).write.parquet(inp)

    q = stream_tile_stats(spark, inp, outp, ckpt, res=7, window="10 minutes")
    q.awaitTermination(120)
    # the watermark finalizes windows on the NEXT batch: drop a later event
    # (2h ahead) and run again — earlier windows pass the watermark and emit
    late = [(999, base + datetime.timedelta(hours=2), 0.0, 0.0)]
    spark.createDataFrame(late, EVENT_SCHEMA).write.mode("append").parquet(inp)
    q2 = stream_tile_stats(spark, inp, outp, ckpt, res=7, window="10 minutes")
    q2.awaitTermination(120)
    got = spark.read.parquet(outp)

    batch = (
        spark.createDataFrame(rows, EVENT_SCHEMA)
        .withColumn("cell", cell_col(F.col("lon"), F.col("lat"), 7))
        .groupBy(F.window("ts", "10 minutes").alias("w"), "cell")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "cell", "n_events")
    )
    got_set = {(r["window_start"], r["cell"], r["n_events"]) for r in got.collect()}
    want_set = {(r["window_start"], r["cell"], r["n_events"]) for r in batch.collect()}
    # append mode emits only watermark-finalized windows; all finalized
    # windows must match the batch aggregation exactly
    assert got_set <= want_set and len(got_set) > 0


def test_stateful_cell_counters_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-cell running counters survive between
    micro-batches (state carried by the checkpointed state store)."""
    import datetime

    from osm2geojson_lite_spark.streaming.stateful import (
        EVENT_SCHEMA as SEV,
        stream_cell_counters,
    )

    inp = str(tmp_path / "st_in")
    outp = str(tmp_path / "st_out")
    ckpt = str(tmp_path / "st_ckpt")
    base = datetime.datetime(2024, 1, 1)
    batch1 = [(i, base, 10.0, 50.0) for i in range(7)]       # one cell
    spark.createDataFrame(batch1, SEV).write.parquet(inp)
    q = stream_cell_counters(spark, inp, outp, ckpt, res=7)
    q.awaitTermination(120)

    batch2 = [(100 + i, base, 10.0, 50.0) for i in range(5)] + \
             [(200, base, -120.0, -30.0)]                     # +1 new cell
    spark.createDataFrame(batch2, SEV).write.mode("append").parquet(inp)
    q2 = stream_cell_counters(spark, inp, outp, ckpt, res=7)
    q2.awaitTermination(120)

    rows = spark.read.parquet(outp).collect()
    by_cell = {}
    for r in rows:  # last update per cell wins (append sink keeps history)
        by_cell.setdefault(r["cell"], []).append(r["n_events"])
    counts = {c: max(v) for c, v in by_cell.items()}
    assert sorted(counts.values()) == [1, 12]  # 7+5 accumulated, 1 new


def test_table_layer_parquet_fallback(spark, tmp_path):
    """sources.tables: parquet fallback writes cell-partitioned features and
    bucket-partitioned geojson; no Iceberg catalog in this sandbox."""
    from osm2geojson_lite_spark.sources.tables import (
        has_iceberg,
        read_documents,
        write_features,
        write_geojson,
    )
    from osm2geojson_lite_spark.sources.synth import generate_documents

    assert has_iceberg(spark) is False
    docs = generate_documents(spark, 6)
    dpath = str(tmp_path / "docs")
    docs.write.parquet(dpath)
    assert read_documents(spark, dpath).count() == 6

    feats = spark.createDataFrame(
        [(str(i), float(i), float(i % 50)) for i in range(40)],
        "feature_id string, lon double, lat double",
    )
    fpath = str(tmp_path / "features")
    write_features(feats, fpath)
    back = spark.read.parquet(fpath)
    assert back.count() == 40 and "cell_r7" in back.columns

    # read-side partition pruning: a cell predicate must prune partition
    # directories at the source (the point of repartition-by-cell layout),
    # not filter rows post-scan
    one_cell = back.select("cell_r7").first()["cell_r7"]
    pruned = spark.read.parquet(fpath).filter(F.col("cell_r7") == one_cell)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = plan[plan.index("PartitionFilters: ["):]
    pf = pf[: pf.index("]") + 1]
    assert "cell_r7" in pf  # predicate reached the partition filter list
    assert pruned.count() == back.filter(F.col("cell_r7") == one_cell).count()

    out = convert(docs, Options(complete_feature=True))
    gpath = str(tmp_path / "geojson")
    write_geojson(out, gpath, n_buckets=4)
    gj = spark.read.parquet(gpath)
    assert gj.count() == 6 and "bucket" in gj.columns


# ---------------------------------------------------------------------------
# lineage: crash between data write and mark_done must not duplicate rows
# ---------------------------------------------------------------------------


def test_lineage_mid_commit_crash_is_idempotent(spark, tmp_path):
    from osm2geojson_lite_spark.lineage import convert_with_lineage
    from osm2geojson_lite_spark.sources.synth import generate_documents

    docs = generate_documents(spark, 24)
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")

    with pytest.raises(RuntimeError, match="after write"):
        convert_with_lineage(docs, out, lin, run_id="r2", n_buckets=4,
                             buckets_per_job=2, fail_mid_commit=1)
    # job 1's data is on disk but unmarked; resume re-runs it idempotently
    convert_with_lineage(docs, out, lin, run_id="r2", n_buckets=4,
                         buckets_per_job=2)
    result = spark.read.parquet(out)
    assert result.count() == 24
    dupes = result.groupBy("doc_id").count().filter(F.col("count") > 1).count()
    assert dupes == 0


def test_lineage_log_backends_interchangeable(spark, tmp_path):
    """The driver-side pyarrow log writer (round-4 fixed-cost cut) must
    produce parquet that the Spark reader path parses with the identical
    schema, and vice versa — logs are interchangeable between backends."""
    from osm2geojson_lite_spark.lineage import LINEAGE_SCHEMA, LineageLog

    lin = str(tmp_path / "lin")
    log = LineageLog(lin)
    log.mark_done(spark, "runA", [("0", 10), ("1", 20)], wall_ms=5)
    log.mark_done(spark, "runB", [("0", 7)], wall_ms=3)

    # pyarrow-written files, read back through BOTH backends
    assert log.completed_keys(spark, "runA") == ["0", "1"]
    df = spark.read.schema(LINEAGE_SCHEMA).parquet(lin)
    assert df.count() == 3
    assert [f.name for f in df.schema.fields] == [
        "run_id", "partition_key", "status", "n_rows", "wall_ms",
        "finished_at_ms",
    ]
    got = {(r["run_id"], r["partition_key"], r["n_rows"])
           for r in df.collect()}
    assert got == {("runA", "0", 10), ("runA", "1", 20), ("runB", "0", 7)}
