"""Session sizing rules (most run without starting a JVM) and SQL conf
enforcement on a reused session."""

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


# ---------------------------------------------------------------------------
# session conf enforcement on reused sessions (ADVICE low)
# ---------------------------------------------------------------------------


def test_get_spark_enforces_sql_confs_on_reuse(spark):
    from osm2geojson_lite_spark.session import get_spark

    before = spark.conf.get("spark.sql.adaptive.enabled")
    s2 = get_spark("tests", cpus=8, shuffle_partitions=8, adaptive=False)
    assert s2.conf.get("spark.sql.adaptive.enabled") == "false"
    s3 = get_spark("tests", cpus=8, shuffle_partitions=8, adaptive=True)
    assert s3.conf.get("spark.sql.adaptive.enabled") == "true"
    spark.conf.set("spark.sql.adaptive.enabled", before)
