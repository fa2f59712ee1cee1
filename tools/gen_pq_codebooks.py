"""Generate the committed golden PQ codebooks for `ann_pq`.

INDEPENDENT implementation of the deterministic per-subspace k-means the
engine runs in `pipeline.pq.pq_codebooks` — sampling via DuckDB SQL (md5
hash order, the same ANSI hash Spark computes), farthest-point init +
Lloyd's in pure Python (sequential sums, no numpy).  The engine and this
tool share only the published procedure (hash-ordered sample, greedy
max-min L2 seeding from sample[0], 9dp-rounded L2^2 lowest-code
assignment, 6dp-rounded member means, empty clusters keep their previous
centroid), not code; matching output pins both.

Writes tests/golden/pq_codebooks.json (m x k x d/m).  Regenerate ONLY
after an intentional change to the training procedure:
    python tools/gen_pq_codebooks.py
"""

from __future__ import annotations

import json
import os

import duckdb

EMB = "/root/testdata/sf0.01/embeddings.parquet"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "tests", "golden", "pq_codebooks.json")
M, K, N_ITERS, SAMPLE, SEED = 16, 16, 20, 512, 0


def d2_9(a: list[float], b: list[float]) -> float:
    s = 0.0
    for x, y in zip(a, b):
        s += (x - y) * (x - y)
    return round(s, 9)


def main() -> None:
    rows = duckdb.sql(
        f"select vec_id, embedding from '{EMB}' "
        f"order by md5('{SEED}:' || vec_id::varchar), vec_id limit {SAMPLE}"
    ).fetchall()
    vecs = [[float(x) for x in r[1]] for r in rows]
    d = len(vecs[0])
    assert d % M == 0, (d, M)
    dsub = d // M

    books = []
    for mi in range(M):
        sub = [v[mi * dsub:(mi + 1) * dsub] for v in vecs]
        # farthest-point init: greedy max-min over rounded L2^2, seeded at
        # sample[0]; ties (equal min-distance) go to the earliest sample
        chosen = [0]
        nearest = [d2_9(s, sub[0]) for s in sub]
        for _ in range(1, K):
            nxt, nxt_d = 0, None
            for i, nd in enumerate(nearest):  # first strict max
                if nxt_d is None or nd > nxt_d:
                    nxt, nxt_d = i, nd
            chosen.append(nxt)
            nearest = [min(nd, d2_9(s, sub[nxt]))
                       for nd, s in zip(nearest, sub)]
        cents = [list(sub[i]) for i in chosen]
        for _ in range(N_ITERS):
            members: list[list[list[float]]] = [[] for _ in cents]
            for s in sub:
                best_c, best_d = 0, None
                for c, cent in enumerate(cents):  # first strict min
                    dd = d2_9(s, cent)
                    if best_d is None or dd < best_d:
                        best_c, best_d = c, dd
                members[best_c].append(s)
            new = []
            for c, cent in enumerate(cents):
                if members[c]:
                    sums = [0.0] * dsub
                    for s in members[c]:
                        for j, x in enumerate(s):
                            sums[j] += x
                    new.append([round(x / len(members[c]), 6) for x in sums])
                else:
                    new.append(list(cent))
            cents = new
        books.append(cents)

    with open(OUT, "w", encoding="utf-8") as f:
        json.dump(books, f)
    print(f"wrote {OUT}: {M} codebooks x {K} centroids x {dsub} dims")


if __name__ == "__main__":
    main()
