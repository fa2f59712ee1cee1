"""Generate the committed golden centroid table for `ann_ivf_kmeans`.

INDEPENDENT implementation of the deterministic seeded k-means the engine
runs in `pipeline.similarity.kmeans_centroids` — sampling via DuckDB SQL
(md5 hash order, the same ANSI hash Spark computes), farthest-point init +
Lloyd's in pure Python (sequential sums, no numpy).  The engine and this
tool share only the published procedure (hash-ordered sample, greedy
max-min farthest-point seeding from sample[0], cosine 9dp lowest-cid
assignment, 6dp-rounded member means, norms clamped at 1e-12), not code;
matching output pins both.

Writes tests/golden/ivf_centroids.json.  Regenerate ONLY after an
intentional change to the training procedure:
    python tools/gen_ivf_centroids.py
"""

from __future__ import annotations

import json
import os

import duckdb

EMB = "/root/testdata/sf0.01/embeddings.parquet"
GOLDEN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "golden")
OUT = os.path.join(GOLDEN, "ivf_centroids.json")
N_CENTROIDS, N_ITERS, SAMPLE, SEED = 16, 20, 512, 0


def cos9(a: list[float], b: list[float]) -> float:
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
        na += x * x
        nb += y * y
    return round(dot / (max(na ** 0.5, 1e-12) * max(nb ** 0.5, 1e-12)), 9)


def main() -> None:
    rows = duckdb.sql(
        f"select vec_id, embedding from '{EMB}' "
        f"order by md5('{SEED}:' || vec_id::varchar), vec_id limit {SAMPLE}"
    ).fetchall()
    vecs = [[float(x) for x in r[1]] for r in rows]
    # farthest-point init: greedy max-min over rounded cosine, seeded at
    # sample[0]; ties (equal max-cosine) go to the earliest sample position
    chosen = [0]
    best = [cos9(v, vecs[0]) for v in vecs]
    for _ in range(1, N_CENTROIDS):
        nxt, nxt_cos = 0, None
        for i, bc in enumerate(best):  # first strict min = earliest sample
            if nxt_cos is None or bc < nxt_cos:
                nxt, nxt_cos = i, bc
        chosen.append(nxt)
        best = [max(bc, cos9(v, vecs[nxt])) for bc, v in zip(best, vecs)]
    cents = [list(vecs[i]) for i in chosen]
    for _ in range(N_ITERS):
        members: list[list[list[float]]] = [[] for _ in cents]
        for v in vecs:
            best_c, best_cos = 0, None
            for c, cent in enumerate(cents):  # first strict max = lowest cid
                s = cos9(v, cent)
                if best_cos is None or s > best_cos:
                    best_c, best_cos = c, s
            members[best_c].append(v)
        for c, mem in enumerate(members):
            if not mem:
                continue  # empty cluster keeps its previous centroid
            dim = len(mem[0])
            cents[c] = [
                round(sum(v[d] for v in mem) / len(mem), 6) for d in range(dim)
            ]
    with open(OUT, "w", encoding="utf-8") as f:
        json.dump(cents, f)
    print(f"wrote {OUT} ({len(cents)} centroids x {len(cents[0])} dims)")


if __name__ == "__main__":
    main()
