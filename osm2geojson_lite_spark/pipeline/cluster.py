"""Near-duplicate clustering: connected components over duplicate pairs.

`minhash_near_duplicates` / `embedding_near_duplicates` emit PAIRS; a real
training pipeline needs CLUSTERS — "these 14 docs are all the same page" —
and one canonical representative per cluster to keep.  The gap between the
two is connected components over the pair graph.

Algorithm: alternating **large-star / small-star** (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii, "Connected Components in MapReduce and
Beyond", SoCC 2014).  Each round is two shuffles of pure DataFrame ops
(explode → groupBy-min → join back) and the edge set converges to a star
forest — every node pointing at its component minimum — in O(log n)
rounds, versus O(diameter) for naive label propagation (a 1M-node chain
of near-dup pairs would take 1M naive rounds, ~20 here).  The driver
loop only counts rounds and checks a two-number convergence aggregate;
all data stays distributed.

100 TB notes: each round's output is `localCheckpoint`ed to truncate
lineage (on a real cluster pass `checkpoint_dir` for fault-tolerant HDFS
checkpoints instead); the convergence probe is one map-side-combinable
`agg(count, bit_xor(xxhash64))` pass, not a driver collect of edges.
Skewed stars (one page duplicated a million times) are exactly the case
large-star is designed for: high-degree nodes shed their neighbors to the
minimum in one round, so no reducer sees more than the already-minimal
star twice.
"""

from __future__ import annotations

from contextlib import nullcontext

from pyspark.sql import DataFrame, functions as F

from ..session import data_sized_shuffle
from .dedup import minhash_near_duplicates


def _star_round(edges: DataFrame, mode: str, *, dedup: bool = True) -> DataFrame:
    """One large-star or small-star round over an undirected edge list
    ``(u, v)``.  Returns the new edge list, deduplicated, no self-loops.

    ``dedup=False`` skips the output ``distinct()`` (one exchange): small-
    star's result SET is invariant to duplicate input edges (duplicates
    orient to duplicates, the per-u min is unchanged, and its own final
    distinct collapses the join fan-out), so the large round feeding it
    can leave its ≤2|E| multiset undeduplicated."""
    if mode == "large":
        # Both orientations: every node sees its full neighborhood.
        nbrs = edges.union(edges.select(F.col("v").alias("u"),
                                        F.col("u").alias("v")))
        # m = min(N(u) ∪ {u}); connect strictly-larger neighbors to m.
        m = nbrs.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("mn", F.col("u")).alias("m"))
        out = (nbrs.join(m, "u")
               .filter(F.col("v") > F.col("u"))
               .select(F.col("v").alias("u"), F.col("m").alias("v")))
    else:
        # Orient so u is the larger endpoint; all neighbors are smaller.
        orient = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        m = orient.groupBy("u").agg(F.min("v").alias("m"))
        out = (orient.join(m, "u")
               .select(F.col("v").alias("u"), "m")
               .filter(F.col("u") != F.col("m"))
               .select("u", F.col("m").alias("v"))
               .union(m.select("u", F.col("m").alias("v"))))
    out = out.filter(F.col("u") != F.col("v"))
    return out.distinct() if dedup else out


def _edge_digest(edges: DataFrame) -> tuple:
    """Order-independent two-number summary of the edge set (count +
    bit_xor of a 64-bit row hash) — one partial-agg pass, no collect of
    edges.  Equal digests across a round ⇒ converged (collision odds are
    2⁻⁶⁴ per comparison; the round cap is the backstop)."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("u", "v")).alias("x"),
    ).collect()[0]
    return (row["n"], row["x"])


def connected_components(pairs: DataFrame, *, id_a: str = "id_a",
                         id_b: str = "id_b", nodes: DataFrame | None = None,
                         node_col: str = "doc_id",
                         max_rounds: int = 50,
                         input_rows_hint: int | None = None) -> DataFrame:
    """Connected components of the undirected pair graph.

    Returns ``(node, component)`` with ``component`` = the minimum node id
    in the component.  ``nodes`` (optional) adds isolated nodes — docs in
    no pair — each as its own singleton component, so the output covers
    the whole corpus.  Ids must be orderable (the canonical pick is the
    minimum); any Spark-comparable type works.

    ``input_rows_hint`` (optional): an upper bound on the pair count, when
    the caller already knows it cheaply (e.g. the pairs frame is a
    materialized checkpoint) — sizes the initial dedup shuffle like the
    rounds, instead of running it at the session's corpus-sized partition
    count.  Results are identical with or without the hint.

    Raises ``RuntimeError`` if the star rounds have not converged after
    ``max_rounds`` (2·log₂(n) rounds suffice per the paper; 50 covers any
    realistic corpus — non-convergence means a bug, not a big input).
    """
    # Scale-adaptive partitioning (derive the partition count from the
    # measured input, never a constant): each star round is ~10 shuffle
    # stages over the CURRENT edge set, which after dedup is usually far
    # smaller than the corpus that produced the pairs.  Running those stages
    # at the session's corpus-sized spark.sql.shuffle.partitions makes every
    # round pay full per-task scheduling overhead on near-empty partitions
    # (measured: 5 rounds x ~6s over a 20k-edge graph at 32 partitions; the
    # same rounds take ~0.3s each when partitions match the data).  The
    # loop is already eager (localCheckpoint + digest per round), so the
    # edge count is known at runtime after the first checkpoint; the conf
    # is restored before the lazily-evaluated final assignment, which stays
    # on the caller's partitioning.
    spark = pairs.sparkSession
    hinted = (data_sized_shuffle(spark, input_rows_hint)
              if input_rows_hint is not None else nullcontext())
    with hinted:
        edges = (pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
                 .filter(F.col("u") != F.col("v")).distinct()
                 .localCheckpoint(eager=True))
        digest = _edge_digest(edges)
    with data_sized_shuffle(spark, digest[0]):
        for _ in range(max_rounds):
            new = _star_round(_star_round(edges, "large", dedup=False), "small")
            new = new.localCheckpoint(eager=True)
            new_digest = _edge_digest(new)
            edges, prev = new, digest
            digest = new_digest
            if new_digest == prev:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_rounds} rounds")

    # Star forest: every edge is (member, component_min).  Roots appear
    # only as v; add them (and isolated nodes) as their own component.
    assign = edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = edges.select(F.col("v").alias("node"), F.col("v").alias("component"))
    out = assign.union(roots)
    if nodes is not None:
        out = out.union(nodes.select(F.col(node_col).alias("node"),
                                     F.col(node_col).alias("component")))
    return out.groupBy("node").agg(F.min("component").alias("component"))


def near_dup_clusters(docs: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text", num_hashes: int = 64,
                      bands: int = 16, ngram: int = 3,
                      threshold: float = 0.8) -> DataFrame:
    """MinHash near-dup pairs → clusters → canonical pick, end to end.

    Output: one row per input document —
    ``(doc_id, cluster_id, cluster_size, is_canonical)`` where
    ``cluster_id`` is the minimum doc_id in the near-dup component,
    ``is_canonical`` marks the kept representative (first-wins = lowest
    id, the deterministic choice), and unique docs are singleton clusters
    of themselves.  ``docs.filter(is_canonical)`` is the deduplicated
    corpus.
    """
    pairs = minhash_near_duplicates(
        docs, id_col=id_col, text_col=text_col, num_hashes=num_hashes,
        bands=bands, ngram=ngram, threshold=threshold)
    cc = connected_components(pairs, nodes=docs, node_col=id_col)
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).cast("int").alias("cluster_size"))
    return (cc.join(sizes, "component")
            .select(F.col("node").alias("doc_id"),
                    F.col("component").alias("cluster_id"),
                    "cluster_size",
                    (F.col("node") == F.col("component")).alias("is_canonical")))
