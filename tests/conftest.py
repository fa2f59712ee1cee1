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
