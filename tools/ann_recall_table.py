"""Measure ANN recall@k vs tuning knobs (VERDICT r2 #4 / r3 #1): sign-LSH
(single- and multi-table), IVF (lowest-id, trained k-means, spilled
k-means) against the exact brute-force top-k.  Results go into BENCH.md's
recall table and the checkout's ann_recall_table.json.

TWO query panels, because the historical panel is biased: queries 0-31
CONTAIN the 16 vectors the lowest-id quantizer uses as centroids, so for
half that panel the baseline has a centroid sitting exactly ON the query
(measured recall 0.83 for queries 0-15 vs 0.26 for 16-31 at n_probe=1).
The held-out panel (vec_id 100-131, disjoint from every quantizer's
centroid choices) is the unbiased comparison — standard ANN-benchmark
practice is queries disjoint from index seeds.

Usage: python tools/ann_recall_table.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from osm2geojson_lite_spark.pipeline.pq import (  # noqa: E402
    pq_codebooks,
    pq_encode,
    pq_topk,
)
from osm2geojson_lite_spark.pipeline.similarity import (  # noqa: E402
    _assign_cid,
    brute_force_topk,
    ivf_topk,
    kmeans_centroids,
    recall_at_k,
    sign_lsh_multi_topk,
    sign_lsh_topk,
)
from osm2geojson_lite_spark.session import get_spark  # noqa: E402

K = 10


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("ann-recall", cpus=8, shuffle_partitions=8)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    panels = {
        "inset_q0_31": emb.filter(F.col("vec_id") < 32),
        "heldout_q100_131": emb.filter(
            (F.col("vec_id") >= 100) & (F.col("vec_id") < 132)),
    }
    cents = kmeans_centroids(emb, n_centroids=16, n_iters=20,
                             sample_size=512, seed=0)
    books = pq_codebooks(emb, m=16, k=16, n_iters=20, sample_size=512,
                         seed=0)
    codes = pq_encode(emb, books).persist()
    codes.count()

    out = {"sf_dir": sf_dir, "k": K, "n_queries_per_panel": 32, "panels": {}}
    for pname, qsrc in panels.items():
        queries = qsrc.select(F.col("vec_id").alias("query_id"), "embedding")
        exact = brute_force_topk(queries, emb, k=K).persist()
        exact.count()

        def mr(approx) -> float:
            row = recall_at_k(approx, exact).agg(
                F.round(F.avg("recall_at_k"), 4).alias("r")).collect()[0]
            return float(row["r"])

        p = {"lsh_by_code_bits": {}, "lsh_multi": {}, "ivf_by_n_probe": {},
             "ivf_spill2_by_n_probe": {}, "ivf_kmeans_by_n_probe": {},
             "ivf_kmeans_spill2_by_n_probe": {},
             "pq_by_shortlist": {}}
        # PQ (m=16 x k=16, 8 bytes/vector): raw ADC + refined shortlists
        p["pq_by_shortlist"]["raw"] = mr(
            pq_topk(queries, codes, K, codebooks=books))
        for sl in (40, 80, 160):
            p["pq_by_shortlist"][sl] = mr(
                pq_topk(queries, codes, K, codebooks=books,
                        rerank_with=emb, shortlist=sl))
        for code_bits in (8, 12, 16):
            p["lsh_by_code_bits"][code_bits] = mr(
                sign_lsh_topk(queries, emb, k=K, code_bits=code_bits))
        for label, kw in (
            ("4x8_h2", dict(code_bits=8, n_tables=4, hamming=2)),
            ("8x8_h1", dict(code_bits=8, n_tables=8, hamming=1)),
        ):
            p["lsh_multi"][label] = mr(
                sign_lsh_multi_topk(queries, emb, k=K, **kw))
        for n_probe in (1, 2, 4, 8):
            p["ivf_by_n_probe"][n_probe] = mr(
                ivf_topk(queries, emb, k=K, n_centroids=16, n_probe=n_probe))
            # config-matched baseline (r4): lowest-id WITH the same spill as
            # the spilled k-means row, so trained-vs-untrained is compared
            # at identical index size / probe budget
            p["ivf_spill2_by_n_probe"][n_probe] = mr(
                ivf_topk(queries, emb, k=K, n_centroids=16, n_probe=n_probe,
                         spill=2))
            p["ivf_kmeans_by_n_probe"][n_probe] = mr(
                ivf_topk(queries, emb, k=K, n_probe=n_probe, centroids=cents))
            p["ivf_kmeans_spill2_by_n_probe"][n_probe] = mr(
                ivf_topk(queries, emb, k=K, n_probe=n_probe, centroids=cents,
                         spill=2))
        exact.unpersist()
        out["panels"][pname] = p

    # list-size imbalance (VERDICT r3 #1): per-quantizer inverted-list
    # sizes over the FULL corpus — max/mean, where 1.0 is perfectly
    # balanced and n_centroids is worst (everything in one list)
    def imbalance(centroids) -> dict:
        sizes = [
            int(r["n"])
            for r in _assign_cid(emb, centroids).groupBy("cid")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        ]
        sizes += [0] * (len(centroids) - len(sizes))
        mean = sum(sizes) / len(sizes)
        return {"max_over_mean": round(max(sizes) / mean, 3),
                "empty_lists": sum(1 for s in sizes if s == 0),
                "sizes": sorted(sizes, reverse=True)}

    low_rows = emb.orderBy("vec_id").limit(16).select("embedding").collect()
    out["list_size_imbalance"] = {
        "lowest_id": imbalance([[float(x) for x in r["embedding"]]
                                for r in low_rows]),
        "kmeans": imbalance(cents),
    }
    print(json.dumps(out, indent=2))
    path = os.path.join(ROOT, "ann_recall_table.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=2)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
