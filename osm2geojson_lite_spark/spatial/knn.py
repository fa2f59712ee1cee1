"""Exact kNN via cell-neighbor expansion (X3).

Plan per iteration (standard LSH-free grid kNN):

1. Queries carry a cell at the current resolution; each query explodes to its
   3x3 ``grid_disk`` (``neighbor_cells_col``), giving candidate cells.
2. Equi-join candidate cells against the point table's cell column (the one
   shuffle; the query side is usually the small side and is broadcast).
3. Per query, ``row_number`` over squared planar distance takes top-k.
4. **Exactness check**: the 3x3 disk at resolution ``r`` is guaranteed to
   contain every point within one cell height (``180/2^r`` degrees) of the
   query.  Queries whose k-th neighbor lies within that radius are final;
   the rest retry one resolution coarser (radius doubles).  Below
   ``res_min`` the stragglers fall back to a brute-force join — so results
   are *exact*, matching a brute-force oracle row-for-row.

Distances are planar squared degrees (rational arithmetic -> deterministic
across engines and cluster sizes); ties break on point id, so output is
byte-identical at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .cells import cell_col, cell_size_deg, neighbor_cells_col


def _topk(cands: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(), F.col("neighbor_id").asc())
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist2", "rank")
    )


KNN_RES_MIN = 2  # kNN may iterate coarser than the tiling layer's res 7:
# the cell encoding is generic and the radius guarantee holds at any
# resolution; a too-fine start just burns driver rounds before the
# guarantee radius covers k neighbors (results are exact either way).


def auto_res(n_points: int, k: int) -> int:
    """Density heuristic: pick the resolution where a 3x3 disk is expected
    to hold ~2k points (uniform-spread assumption), clamped to
    [KNN_RES_MIN, 12].  2^(2r) cells at res r -> r = log2(9*n / 2k) / 2."""
    import math

    if n_points <= 0:
        return KNN_RES_MIN
    r = int(math.log2(max(9.0 * n_points / (2.0 * max(k, 1)), 2.0)) / 2.0)
    return max(KNN_RES_MIN, min(12, r))


def knn_join(queries: DataFrame, points: DataFrame, k: int, *,
             res_start: int | None = None, res_min: int = KNN_RES_MIN,
             query_id: str = "query_id", point_id: str = "point_id",
             q_lon: str = "lon", q_lat: str = "lat",
             p_lon: str = "lon", p_lat: str = "lat",
             broadcast_queries: bool = True) -> DataFrame:
    """-> (query_id, neighbor_id, dist2, rank) with exactly min(k, |points|)
    rows per query, identical to brute force."""
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(q_lon).cast("double").alias("qlon"),
        F.col(q_lat).cast("double").alias("qlat"),
    )
    p = points.select(
        F.col(point_id).alias("neighbor_id"),
        F.col(p_lon).cast("double").alias("plon"),
        F.col(p_lat).cast("double").alias("plat"),
    )
    # one upfront count only when the caller did not pin the start resolution
    # (auto_res and the tiny-corpus shortcut need |points|); with res_start
    # given the pipeline issues no action until the per-round remaining check
    n_points = None
    if res_start is None:
        n_points = p.count()
        res_start = auto_res(n_points, k)

    # explicit products (not pow) so an ANSI-SQL oracle reproduces the exact
    # IEEE operation sequence bit-for-bit
    dx = F.col("qlon") - F.col("plon")
    dy = F.col("qlat") - F.col("plat")
    dist2 = dx * dx + dy * dy

    # iteration plan: shrink resolution ring-1 first, then widen the ring at
    # the coarsest resolution (guarantee radius doubles each step) — sparse
    # data needs wide rings, not just coarse cells, before brute force
    plan = [(res, 1) for res in range(res_start, res_min - 1, -1)]
    plan += [(res_min, 2), (res_min, 4), (res_min, 8)]
    if n_points is not None and n_points <= 3 * k:
        plan = []  # tiny corpus: brute force is already optimal

    results = None
    remaining = q
    prev_cached = None
    for res, ring in plan:
        p_cells = p.withColumn("cell", cell_col(F.col("plon"), F.col("plat"), res))
        q_cells = remaining.withColumn(
            "cell",
            F.explode(neighbor_cells_col(
                cell_col(F.col("qlon"), F.col("qlat"), res), res, ring=ring)),
        )
        left = F.broadcast(q_cells) if broadcast_queries else q_cells
        # no dedup needed: neighbor_cells_col returns DISTINCT cells and a
        # point belongs to exactly one cell per resolution, so each
        # (query, neighbor) pair joins at most once per round — a
        # dropDuplicates here would be a pure extra shuffle
        cands = left.join(p_cells, "cell", "inner").select(
            "query_id", "neighbor_id", dist2.alias("dist2")
        )
        topk = _topk(cands, k)
        # guaranteed-covered radius: ring x cell height at this resolution
        radius2 = (ring * cell_size_deg(res)) ** 2
        per_q = topk.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("n"), F.max("dist2").alias("kth")
        )
        satisfied_ids = per_q.filter(
            (F.col("n") >= k) & (F.col("kth") <= F.lit(radius2))
        ).select("query_id")
        done = topk.join(F.broadcast(satisfied_ids), "query_id", "left_semi")
        results = done if results is None else results.unionByName(done)
        remaining = remaining.join(F.broadcast(satisfied_ids), "query_id", "left_anti")
        # persist truncates the per-round anti-join chain; the previous
        # round's cache is superseded once this one is materialized
        remaining = remaining.persist()
        n_remaining = remaining.count()
        if prev_cached is not None:
            prev_cached.unpersist()
        prev_cached = remaining
        if n_remaining == 0:
            break
        if n_points is not None and n_remaining * n_points <= 2_000_000:
            break  # stragglers cheaper by brute force than another round
        if n_points is None and n_remaining <= 1_000:
            break  # few stragglers: brute force them without another round

    # the returned plan is lazy, so no cache outlives the call: the
    # brute-force branch recomputes the final `remaining` like every
    # round's `done` recomputes its chain
    if prev_cached is not None:
        prev_cached.unpersist()

    # brute-force fallback for stragglers (sparse regions / tiny point sets)
    leftover = F.broadcast(remaining) if broadcast_queries else remaining
    brute = _topk(
        leftover.crossJoin(p).select("query_id", "neighbor_id", dist2.alias("dist2")), k
    )
    results = brute if results is None else results.unionByName(brute)
    return results
