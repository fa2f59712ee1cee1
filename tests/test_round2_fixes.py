"""Round-2 regression tests: short-document shingles, all-pairs guards,
kNN cache hygiene, feature-id JSON escaping, lineage write idempotency,
session conf enforcement."""

from __future__ import annotations

import json
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm2geojson_lite_spark.pipeline.dedup import (
    ALL_PAIRS_MAX_ROWS,
    minhash_near_duplicates,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles_col,
)
from osm2geojson_lite_spark.pipeline.similarity import embedding_near_duplicates


# ---------------------------------------------------------------------------
# shingles on short documents (ADVICE high: sequence(0,-1) -> [0,-1] crash)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def short_docs(spark):
    return spark.createDataFrame(
        [
            (1, ""),
            (2, "one"),
            (3, "two words"),
            (4, "exactly three tokens"),
            (5, "now four whole tokens"),
            (6, "   "),
        ],
        "doc_id long, text string",
    )


def test_shingles_short_docs_no_crash(spark, short_docs):
    rows = short_docs.select(
        "doc_id", shingles_col(F.col("text")).alias("sh")
    ).orderBy("doc_id").collect()
    got = {r["doc_id"]: list(r["sh"]) for r in rows}
    assert got[1] == [] and got[2] == [] and got[3] == [] and got[6] == []
    assert got[4] == ["exactly three tokens"]
    assert sorted(got[5]) == ["four whole tokens", "now four whole"]


def test_minhash_ops_short_docs_no_crash(spark, short_docs):
    sigs = minhash_signatures(short_docs, num_hashes=8).collect()
    # docs with <3 tokens have no shingles -> no signature row
    assert sorted(r["doc_id"] for r in sigs) == [4, 5]
    pairs = minhash_near_duplicates(short_docs, num_hashes=8, bands=4,
                                    threshold=0.1).collect()
    assert pairs == []  # no shared shingles among the two signable docs
    jac = ngram_jaccard_pairs(short_docs, threshold=0.01).collect()
    assert jac == []


# ---------------------------------------------------------------------------
# quadratic-fallback guards
# ---------------------------------------------------------------------------


def test_ngram_jaccard_refuses_large_unblocked(spark):
    big = spark.range(ALL_PAIRS_MAX_ROWS + 1).select(
        F.col("id").alias("doc_id"), F.lit("a b c d").alias("text")
    )
    with pytest.raises(ValueError, match="quadratic"):
        ngram_jaccard_pairs(big)
    # block_col path and explicit opt-in both construct a plan without raising
    ngram_jaccard_pairs(big, block_col="doc_id")
    ngram_jaccard_pairs(big, allow_all_pairs=True)


def test_embedding_neardup_refuses_large_unblocked(spark):
    big = spark.range(ALL_PAIRS_MAX_ROWS + 1).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="quadratic"):
        embedding_near_duplicates(big)
    embedding_near_duplicates(big, allow_all_pairs=True)


# ---------------------------------------------------------------------------
# kNN cache hygiene (ADVICE: remaining.persist() leaked across rounds/calls)
# ---------------------------------------------------------------------------


def test_knn_no_cached_plan_growth_across_calls(spark):
    from osm2geojson_lite_spark.spatial.knn import knn_join

    queries = spark.range(40).select(
        F.col("id").alias("query_id"),
        ((F.col("id") * 7919 % 360) - 180.0).cast("double").alias("lon"),
        ((F.col("id") * 104729 % 180) - 90.0).cast("double").alias("lat"),
    )
    points = spark.range(3000).select(
        F.col("id").alias("point_id"),
        ((F.col("id") * 6007 % 3600) / 10.0 - 180.0).cast("double").alias("lon"),
        ((F.col("id") * 9973 % 1800) / 10.0 - 90.0).cast("double").alias("lat"),
    )

    def n_cached() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    first = knn_join(queries, points, k=3).collect()
    after_first = n_cached()
    for _ in range(3):
        again = knn_join(queries, points, k=3).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, first))
    # repeated calls must not accumulate cached plans (at most the one
    # live leftover cache from the final call)
    assert n_cached() <= after_first


# ---------------------------------------------------------------------------
# feature-id JSON escaping (ADVICE low)
# ---------------------------------------------------------------------------


def test_node_kernel_escapes_feature_id():
    from osm2geojson_lite_spark.operators.assemble import node_features_kernel

    pdf = pd.DataFrame(
        {
            "doc_id": ["d"],
            "out_pos": [0],
            "composite": ['node/1"\\evil'],
            "props_json": ["{}"],
            "tags_json": ["{}"],
            "lon": ["1.5"],
            "lat": ["2.5"],
        }
    )
    [out] = list(node_features_kernel(iter([pdf])))
    feature = json.loads(out["feature_json"][0])  # must be valid JSON
    assert feature["id"] == 'node/1"\\evil'


def test_way_kernel_escapes_feature_id():
    from osm2geojson_lite_spark.operators.assemble import way_features_kernel

    pdf = pd.DataFrame(
        {
            "doc_id": ["d"],
            "out_pos": [0],
            "composite": ['way/"q'],
            "props_json": ["{}"],
            "tags_json": ["{}"],
            "tag_events_json": ["[]"],
            "coords_json": ['[["0","0"],["1","1"]]'],
        }
    )
    [out] = list(way_features_kernel(iter([pdf])))
    feature = json.loads(out["feature_json"][0])
    assert feature["id"] == 'way/"q'


# ---------------------------------------------------------------------------
# lineage: crash between data write and mark_done must not duplicate rows
# ---------------------------------------------------------------------------


def test_lineage_mid_commit_crash_is_idempotent(spark, tmp_path):
    from osm2geojson_lite_spark.lineage import convert_with_lineage, read_converted
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
    result = read_converted(spark, out)
    assert result.count() == 24
    dupes = result.groupBy("doc_id").count().filter(F.col("count") > 1).count()
    assert dupes == 0


# ---------------------------------------------------------------------------
# committed conversion golden must match the current engine output
# ---------------------------------------------------------------------------


def test_convert_corpus_golden_still_current(spark):
    """Drift guard for tests/golden/convert_corpus_100.json (the
    osm_convert_corpus oracle): converting a sample of the seed-42 corpus
    must reproduce the committed md5s exactly."""
    import json as _json

    from pyspark.sql import functions as F

    from osm2geojson_lite_spark import Options, convert
    from osm2geojson_lite_spark.sources.synth import generate_documents

    with open(Path(__file__).parent / "golden" / "convert_corpus_100.json",
              encoding="utf-8") as f:
        golden = {d: (n, h) for d, n, h in _json.load(f)}
    sample_ids = sorted(golden)[:12]
    docs = generate_documents(spark, 100).filter(F.col("doc_id").isin(sample_ids))
    out = convert(docs, Options(complete_feature=True)).select(
        "doc_id", F.md5("geojson").alias("h")
    ).collect()
    assert len(out) == len(sample_ids)
    for r in out:
        assert r["h"] == golden[r["doc_id"]][1], r["doc_id"]


# ---------------------------------------------------------------------------
# mega-document skew: one document holding most of the corpus's elements
# ---------------------------------------------------------------------------


def test_convert_mega_document_skew(spark):
    """A skewed corpus — one document with 20k nodes + a 2k-member way among
    tiny documents — must convert correctly (the J1 node-ref join and the
    ordered coord collection handle a hot (doc_id) key; explicit salting is
    available via Options(salt=N) and must produce identical bytes)."""
    import json as _json

    from osm2geojson_lite_spark import Options, convert
    from osm2geojson_lite_spark.sources.synth import SPAN_SCHEMA

    n_nodes, way_len = 20000, 2000
    elements = [
        {"type": "node", "id": i + 1,
         "lat": round(-80 + (i % 1600) * 0.1, 7),
         "lon": round(-170 + (i % 3400) * 0.1, 7)}
        for i in range(n_nodes)
    ]
    elements.append({
        "type": "way", "id": 900000,
        "nodes": [i + 1 for i in range(way_len)],
        "tags": {"highway": "trunk"},
    })
    mega = _json.dumps({"elements": elements})
    small = _json.dumps({"elements": [
        {"type": "node", "id": 1, "lat": 1.0, "lon": 2.0,
         "tags": {"name": "tiny"}},
    ]})
    rows = [("mega", [{"kind": "text", "text": mega, "media_ref": None, "offset": 0}])]
    rows += [(f"s{i}", [{"kind": "text", "text": small, "media_ref": None, "offset": 0}])
             for i in range(8)]
    docs = spark.createDataFrame(rows, schema=SPAN_SCHEMA)

    plain = {r["doc_id"]: r["geojson"] for r in convert(
        docs, Options(complete_feature=True)).collect()}
    feats = _json.loads(plain["mega"])["features"]
    way = [f for f in feats if f["id"] == "way/900000"]
    assert len(way) == 1
    assert len(way[0]["geometry"]["coordinates"]) == way_len

    salted = {r["doc_id"]: r["geojson"] for r in convert(
        docs, Options(complete_feature=True, salt=8)).collect()}
    assert salted == plain  # salting changes the plan, never the bytes


# ---------------------------------------------------------------------------
# session conf enforcement on reused sessions (ADVICE low)
# ---------------------------------------------------------------------------


def test_get_spark_enforces_sql_confs_on_reuse(spark):
    from osm2geojson_lite_spark.session import get_spark

    before = spark.conf.get("spark.sql.adaptive.enabled")
    s2 = get_spark("tests", cpus=8, shuffle_partitions=8, adaptive=False)
    assert s2.conf.get("spark.sql.adaptive.enabled") == "false"
    s3 = get_spark("tests", cpus=8, shuffle_partitions=8, adaptive=True)
    assert s3.conf.get("spark.sql.adaptive.enabled") == "true"
    spark.conf.set("spark.sql.adaptive.enabled", before)
