"""Generate the committed golden IVF-PQ residual codebooks for `ann_ivfpq`.

INDEPENDENT implementation of the engine's `pipeline.pq.ivfpq_codebooks`
(the IVFADC training recipe, Jegou et al. TPAMI 2011 SIII): sampling via
DuckDB SQL (md5 hash order), coarse assignment against the committed golden
IVF centroids (tests/golden/ivf_centroids.json) by 9dp-rounded cosine with
lowest-cid ties, residual = vector - centroid, then the same pure-Python
per-subspace k-means `tools/gen_pq_codebooks.py` runs (farthest-point init,
9dp-rounded L2^2 lowest-code assignment, 6dp-rounded member means, empty
clusters keep their previous centroid).  The engine and this tool share
only the published procedure, not code; matching output pins both.

Writes tests/golden/ivfpq_codebooks.json (m x k x d/m).  Regenerate ONLY
after an intentional change to the training procedure:
    python tools/gen_ivfpq_codebooks.py
"""

from __future__ import annotations

import json
import math
import os

import duckdb

EMB = "/root/testdata/sf0.01/embeddings.parquet"
GOLDEN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "golden")
CENTS = os.path.join(GOLDEN, "ivf_centroids.json")
OUT = os.path.join(GOLDEN, "ivfpq_codebooks.json")
M, K, N_ITERS, SAMPLE, SEED = 16, 16, 20, 512, 0


def d2_9(a: list[float], b: list[float]) -> float:
    s = 0.0
    for x, y in zip(a, b):
        s += (x - y) * (x - y)
    return round(s, 9)


def cos_9(v: list[float], c: list[float], vn: float, cn: float) -> float:
    s = 0.0
    for x, y in zip(v, c):
        s += x * y
    return round(s / (vn * cn), 9)


def main() -> None:
    rows = duckdb.sql(
        f"select vec_id, embedding from '{EMB}' "
        f"order by md5('{SEED}:' || vec_id::varchar), vec_id limit {SAMPLE}"
    ).fetchall()
    vecs = [[float(x) for x in r[1]] for r in rows]
    with open(CENTS, encoding="utf-8") as f:
        cents = [[float(x) for x in cv] for cv in json.load(f)]
    cnorms = [max(math.sqrt(sum(x * x for x in cv)), 1e-12) for cv in cents]

    # coarse assignment: 9dp cosine, first strict max -> lowest cid
    residuals = []
    for v in vecs:
        vn = max(math.sqrt(sum(x * x for x in v)), 1e-12)
        best_c, best_cos = 0, None
        for c, (cv, cn) in enumerate(zip(cents, cnorms)):
            cc = cos_9(v, cv, vn, cn)
            if best_cos is None or cc > best_cos:
                best_c, best_cos = c, cc
        residuals.append([x - y for x, y in zip(v, cents[best_c])])

    d = len(residuals[0])
    assert d % M == 0, (d, M)
    dsub = d // M

    books = []
    for mi in range(M):
        sub = [v[mi * dsub:(mi + 1) * dsub] for v in residuals]
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
        cents_mi = [list(sub[i]) for i in chosen]
        for _ in range(N_ITERS):
            members: list[list[list[float]]] = [[] for _ in cents_mi]
            for s in sub:
                best_c, best_d = 0, None
                for c, cent in enumerate(cents_mi):  # first strict min
                    dd = d2_9(s, cent)
                    if best_d is None or dd < best_d:
                        best_c, best_d = c, dd
                members[best_c].append(s)
            new = []
            for c, cent in enumerate(cents_mi):
                if members[c]:
                    sums = [0.0] * dsub
                    for s in members[c]:
                        for j, x in enumerate(s):
                            sums[j] += x
                    new.append([round(x / len(members[c]), 6) for x in sums])
                else:
                    new.append(list(cent))
            cents_mi = new
        books.append(cents_mi)

    with open(OUT, "w", encoding="utf-8") as f:
        json.dump(books, f)
    print(f"wrote {OUT}: {M} codebooks x {K} centroids x {dsub} dims")


if __name__ == "__main__":
    main()
