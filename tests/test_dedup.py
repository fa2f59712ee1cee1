"""pipeline.dedup: shingles and MinHash on short documents, the
all-pairs guard, and passage dedup on a hot passage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm2geojson_lite_spark.pipeline.dedup import (
    ALL_PAIRS_MAX_ROWS,
    minhash_near_duplicates,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles_col,
)


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


def test_passage_dedup_hot_passage_across_partitions(spark):
    """One ultra-common passage duplicated across 200 docs in many
    partitions: exactly the lowest-(doc_id, w) copy survives, every other
    copy is deleted — the case the round-4 window shape funneled through a
    single partition."""
    from osm2geojson_lite_spark.pipeline.dedup import passage_dedup

    boiler = " ".join(f"tok{i}" for i in range(16))  # one 16-token window
    rows = [(i, boiler) for i in range(200)]
    # unique second window for a handful of docs: those keep 1 of 2
    for i in range(5):
        rows[i] = (i, boiler + " " + " ".join(f"u{i}x{j}" for j in range(16)))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    out = passage_dedup(df.repartition(37), window=16).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id) == 200
    # doc 0 holds the first (doc_id, w) occurrence of the boilerplate AND
    # its own unique window
    assert by_id[0]["n_kept"] == 2 and by_id[0]["clean_text"].startswith(boiler)
    # docs 1-4: lose the boilerplate, keep their unique window
    for i in range(1, 5):
        r = by_id[i]
        assert r["n_windows"] == 2 and r["n_kept"] == 1
        assert r["clean_text"] == " ".join(f"u{i}x{j}" for j in range(16))
    # docs 5-199: fully deduplicated, empty but present
    for i in range(5, 200):
        r = by_id[i]
        assert (r["n_kept"], r["clean_text"]) == (0, ""), i

    # partitioning-invariant (single partition == 37 partitions)
    again = {(r["doc_id"], r["clean_text"], r["n_kept"])
             for r in passage_dedup(df.coalesce(1), window=16).collect()}
    assert again == {(r["doc_id"], r["clean_text"], r["n_kept"]) for r in out}
