"""resolve: the sorted-stream relation closure against a plain-Python
closure, and resolve_graph's salting against the unsalted graph."""

from __future__ import annotations

import pandas as pd
from hypothesis import example, given, settings, strategies as st

from osm2geojson_lite_spark.operators.resolve import _closure_stream, relation_closure
from osm2geojson_lite_spark.sources.synth import generate_documents

from .conftest import salted_graphs


def reference_closure(roots, edges) -> list[tuple]:
    """Per root, the fixpoint of 'reachable over one more edge'."""
    out = []
    for doc, root in roots:
        reach = {root}
        while True:
            more = {c for d, p, c in edges if d == doc and p in reach} - reach
            if not more:
                break
            reach |= more
        out += [(doc, root, r) for r in reach]
    return sorted(out)


@st.composite
def closure_case(draw):
    """Documents of up to 6 relations with random edges (so cycles,
    self-loops and duplicate edges occur), some roots without edges and
    some documents without roots."""
    roots, edges = [], []
    for i in range(draw(st.integers(1, 30))):
        doc = f"doc-{i}"
        n = draw(st.integers(1, 6))
        rel = st.integers(0, n - 1)
        edges += [(doc, p, c) for p, c in draw(st.lists(st.tuples(rel, rel), max_size=10))]
        roots += [(doc, r) for r in sorted(draw(st.sets(rel, max_size=n)))]
    return roots, edges


def _spark_closure(spark, roots, edges) -> list[tuple]:
    roots_df = spark.createDataFrame(roots, "doc_id string, root_inst long")
    edges_df = spark.createDataFrame(edges, "doc_id string, parent_inst long, child_inst long")
    return sorted(tuple(r) for r in relation_closure(roots_df, edges_df).collect())


@given(case=closure_case())
@example(case=([("a", 0), ("a", 3), ("b", 0), ("c", 5)],
          [("a", 0, 1), ("a", 1, 2), ("a", 2, 0), ("a", 2, 2),  # cycle + self-loop
           ("b", 0, 0), ("d", 0, 1)]))  # doc d: edges, no roots
@settings(max_examples=25, deadline=None)
def test_closure_matches_plain_bfs(spark, case):
    roots, edges = case
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")  # most documents straddle an Arrow batch
    try:
        got = _spark_closure(spark, roots, edges)
    finally:
        spark.conf.set(key, prev)
    assert got == reference_closure(roots, edges)


def test_closure_stream_carries_a_straddling_document():
    def batch(rows):
        return pd.DataFrame(rows, columns=["doc_id", "src", "dst", "is_root"])

    batches = [
        batch([("a", 1, 1, True), ("a", 1, 2, False)]),
        batch([("a", 2, 3, False), ("a", 3, 1, False), ("b", 7, 7, True)]),
        batch([("b", 7, 7, False)]),
    ]
    got = sorted(
        tuple(r) for pdf in _closure_stream(iter(batches))
        for r in pdf.itertuples(index=False)
    )
    assert got == [("a", 1, 1), ("a", 1, 2), ("a", 1, 3), ("b", 7, 7)]


def test_resolve_graph_salted_identical(spark):
    """Explicit skew salting of the node-ref join must not change any
    resolved frame."""
    plain, salted = salted_graphs(generate_documents(spark, 20), salt=4)
    assert all(plain[k] for k in ("live", "way_coords", "members"))
    assert salted == plain
