from __future__ import annotations

import os

import pytest

from osm2geojson_lite_spark.sources.synth import REFERENCE_DATA_DIR

#: marks tests that read the reference implementation's fixture files
needs_reference = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_DATA_DIR), reason="reference fixtures absent")


@pytest.fixture(scope="session")
def spark():
    from osm2geojson_lite_spark.session import get_spark

    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


def parse_document(doc_id, payload: str) -> list[dict]:
    """One document's instance rows as ``parse_documents`` would emit
    them, one dict per row, without Spark."""
    from osm2geojson_lite_spark.operators.parse import _INSTANCE_COLS, _parse_into

    cols = {c: [] for c in _INSTANCE_COLS}
    _parse_into(doc_id, payload, cols)
    return [dict(zip(_INSTANCE_COLS, row)) for row in zip(*cols.values())]


def salted_graphs(docs, salt: int) -> tuple[dict, dict]:
    """The join plan's resolved graph for ``docs`` unsalted and with
    ``salt``: each ``resolve_graph`` frame as sorted row reprs."""
    from osm2geojson_lite_spark.operators.convert import assemble_payload
    from osm2geojson_lite_spark.operators.parse import parse_documents
    from osm2geojson_lite_spark.operators.resolve import resolve_graph

    instances = parse_documents(assemble_payload(docs)).persist()
    try:
        return tuple(
            {k: sorted(map(repr, df.collect())) for k, df in
             resolve_graph(instances, salt=s).items()}
            for s in (None, salt))
    finally:
        instances.unpersist()


def normalize(obj):
    """Number-insensitive deep form: ints -> floats (JS has one number type)."""
    if isinstance(obj, bool):
        return obj
    if isinstance(obj, (int, float)):
        return float(obj)
    if isinstance(obj, list):
        return [normalize(x) for x in obj]
    if isinstance(obj, dict):
        return {k: normalize(v) for k, v in obj.items()}
    return obj
