"""pipeline.similarity: ANN retrieval quality (multi-table sign-LSH,
farthest-point-seeded k-means IVF, spilled IVF), the k-means golden and
zero-norm guard, and the all-pairs guard of embedding near-duplicates."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from osm2geojson_lite_spark.pipeline.dedup import ALL_PAIRS_MAX_ROWS
from osm2geojson_lite_spark.pipeline.similarity import (
    _assign_cid,
    brute_force_topk,
    embedding_near_duplicates,
    hamming_masks,
    ivf_topk,
    kmeans_centroids,
    recall_at_k,
    sign_lsh_multi_topk,
    sign_lsh_topk,
)


EMB = "/root/testdata/sf0.01/embeddings.parquet"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(EMB).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def heldout_queries(emb):
    # disjoint from every quantizer's centroid choices (lowest-id uses
    # vec_id < 16; the k-means sample is hash-ordered but queries that ARE
    # index seed points bias recall upward — see tools/ann_recall_table.py)
    return emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 116)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _mean_recall(approx, exact) -> float:
    row = (
        recall_at_k(approx, exact)
        .agg(F.avg("recall_at_k").alias("r"))
        .collect()[0]
    )
    return float(row["r"])


def test_embedding_neardup_refuses_large_unblocked(spark):
    big = spark.range(ALL_PAIRS_MAX_ROWS + 1).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="quadratic"):
        embedding_near_duplicates(big)
    embedding_near_duplicates(big, allow_all_pairs=True)


# ---------------------------------------------------------------------------
# trained IVF quantizer: engine k-means == independently generated golden
# ---------------------------------------------------------------------------


def test_kmeans_centroids_match_golden(spark):
    import json as _json

    from osm2geojson_lite_spark.pipeline.similarity import kmeans_centroids

    emb = spark.read.parquet(EMB)
    got = kmeans_centroids(emb, n_centroids=16, n_iters=20, sample_size=512,
                           seed=0)
    with open(Path(__file__).parent / "golden" / "ivf_centroids.json") as f:
        golden = _json.load(f)
    assert len(got) == len(golden) == 16
    for c, (g_vec, o_vec) in enumerate(zip(got, golden)):
        assert g_vec == o_vec, f"centroid {c} diverged from golden"


def test_hamming_masks_counts_and_uniqueness():
    m = hamming_masks(8, 2)
    assert len(m) == 1 + 8 + 28  # C(8,0)+C(8,1)+C(8,2)
    assert len(set(m)) == len(m)
    assert m[0] == 0
    assert all(bin(x).count("1") <= 2 for x in m)
    # deterministic (popcount, combination) order
    assert m == hamming_masks(8, 2)


def test_multi_table_lsh_beats_single_table(emb, heldout_queries):
    """The round-4 fix: candidate union over 4 independent tables must
    recall strictly better than any single-table config on the held-out
    panel, and clear the >=0.8 bar the verdict set."""
    exact = brute_force_topk(heldout_queries, emb, k=10).persist()
    exact.count()
    single = _mean_recall(
        sign_lsh_topk(heldout_queries, emb, k=10, code_bits=8), exact
    )
    multi = _mean_recall(
        sign_lsh_multi_topk(
            heldout_queries, emb, k=10, code_bits=8, n_tables=4, hamming=2
        ),
        exact,
    )
    exact.unpersist()
    assert multi > single
    assert multi >= 0.8


def test_multi_table_lsh_rank_contract(emb, heldout_queries):
    out = sign_lsh_multi_topk(heldout_queries, emb, k=5).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q
        assert len(ranks) <= 5
    # self-match: every query vector is its own nearest neighbor and always
    # collides with itself in every table
    top1 = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    assert all(q == n for q, n in top1.items())


def test_kmeans_beats_lowest_id_on_heldout(emb, heldout_queries):
    """VERDICT r3 #1 acceptance: trained IVF >= untrained lowest-id IVF at
    the default probe count on the unbiased (held-out) panel."""
    cents = kmeans_centroids(emb, n_centroids=16, n_iters=20,
                             sample_size=512, seed=0)
    exact = brute_force_topk(heldout_queries, emb, k=10).persist()
    exact.count()
    base = _mean_recall(
        ivf_topk(heldout_queries, emb, k=10, n_centroids=16, n_probe=4), exact
    )
    trained = _mean_recall(
        ivf_topk(heldout_queries, emb, k=10, n_probe=4, centroids=cents), exact
    )
    spilled = _mean_recall(
        ivf_topk(heldout_queries, emb, k=10, n_probe=4, centroids=cents,
                 spill=2),
        exact,
    )
    exact.unpersist()
    assert trained >= base
    assert spilled >= trained  # redundant assignment can only add candidates


def test_ivf_spill_candidates_superset(emb, heldout_queries):
    """spill=2 assignment is a strict superset of spill=1: every (vector,
    primary-list) pair survives, plus one secondary list per vector."""
    cents = kmeans_centroids(emb, n_centroids=16, n_iters=20,
                             sample_size=512, seed=0)
    a1 = {
        (r["neighbor_id"], r["cid"])
        for r in _assign_cid(emb, cents).collect()
    }
    a2 = {
        (r["neighbor_id"], r["cid"])
        for r in _assign_cid(emb, cents, spill=2).collect()
    }
    assert a1 <= a2
    n_vecs = emb.count()
    assert len(a1) == n_vecs
    assert len(a2) == 2 * n_vecs


def test_kmeans_zero_norm_guard(spark):
    """ADVICE r3: an all-zero sample vector must not poison training with
    NaN cosines — centroids stay finite and the zero vector scores cosine
    0 against everything instead of being argmax-dumped into centroid 0."""
    import math

    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(8)])
            for i in range(40)]
    rows[3] = (3, [0.0] * 8)  # zero-norm vector inside the sample
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_centroids(df, n_centroids=4, n_iters=5, sample_size=40,
                             seed=0)
    assert all(math.isfinite(x) for cv in cents for x in cv)


def test_kmeans_farthest_point_spreads_lists(emb):
    """The motivating defect: hash-order init packed centroids into one
    dense region.  Farthest-point init must not leave any inverted list
    empty and keeps max/mean imbalance sane on the sf0.01 corpus."""
    cents = kmeans_centroids(emb, n_centroids=16, n_iters=20,
                             sample_size=512, seed=0)
    sizes = {
        r["cid"]: r["n"]
        for r in _assign_cid(emb, cents)
        .groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert len(sizes) == 16  # no empty lists
    mean = sum(sizes.values()) / 16
    assert max(sizes.values()) / mean < 3.0
