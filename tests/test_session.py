"""Session sizing rules that run without starting a JVM."""

from __future__ import annotations

from osm2geojson_lite_spark.session import driver_memory

GIB = 1 << 30


def test_driver_memory_is_half_the_host_ram():
    assert driver_memory({}, 15 * GIB) == "7g"
    assert driver_memory({}, 64 * GIB) == "32g"


def test_driver_memory_clamped():
    assert driver_memory({}, GIB) == "1g"
    assert driver_memory({}, 512 * GIB) == "48g"


def test_explicit_driver_memory_wins():
    assert driver_memory({"SPARK_DRIVER_MEMORY": "3g"}, 15 * GIB) == "3g"
    assert driver_memory({"SPARK_DRIVER_MEMORY": ""}, 15 * GIB) == "7g"
