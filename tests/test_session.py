"""Session sizing rules (most run without starting a JVM), SQL conf
enforcement on a reused session, and the Python workers' zip re-read
guard."""

from __future__ import annotations

import importlib
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from osm2geojson_lite_spark.session import (
    driver_memory,
    local_cpus,
    skip_unchanged_zip_rereads,
)

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


def test_local_cpus_defaults_to_the_usable_cpus():
    assert local_cpus({}, 4) == 4
    assert local_cpus({"SPARK_GRAFT_CPUS": ""}, 4) == 4


def test_explicit_local_cpus_win():
    assert local_cpus({"SPARK_GRAFT_CPUS": "2"}, 4) == 2


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


# ---------------------------------------------------------------------------
# zip archives re-read only when they change (Python worker task set-up)
# ---------------------------------------------------------------------------


@pytest.fixture
def zip_reads(monkeypatch):
    """Archive paths ``zipimport`` reads a directory of, in order; the
    process's ``invalidate_caches`` is restored afterwards."""
    reads: list[str] = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: reads.append(archive) or read(archive))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    return reads


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="3.12+ re-reads lazily")
def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch, zip_reads):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zguard_a.py", "A = 1\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zguard_a").A == 1
        skip_unchanged_zip_rereads()
        guard = zipimport.zipimporter.invalidate_caches
        skip_unchanged_zip_rereads()
        assert zipimport.zipimporter.invalidate_caches is guard  # idempotent
        importlib.invalidate_caches()  # first call after install: one read
        assert zip_reads.count(archive) == 2  # the importer's own, then that
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert zip_reads.count(archive) == 2

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zguard_a.py", "A = 1\n")
            z.writestr("zguard_b.py", "B = 2\n")
        importlib.invalidate_caches()
        assert zip_reads.count(archive) == 3
        assert importlib.import_module("zguard_b").B == 2
    finally:
        for name in ("zguard_a", "zguard_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_zip_guard_is_a_noop_on_312(monkeypatch, zip_reads):
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    before = zipimport.zipimporter.invalidate_caches
    skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is before


def test_driver_import_keeps_zipimport_unchanged():
    code = ("import zipimport; before = zipimport.zipimporter.invalidate_caches; "
            "import osm2geojson_lite_spark; "
            "assert zipimport.zipimporter.invalidate_caches is before")
    subprocess.run([sys.executable, "-c", code], check=True,
                   cwd=Path(__file__).resolve().parents[1])


def test_worker_task_rereads_no_spark_archive(spark):
    """Once the package is imported in a Python worker, a task's
    ``importlib.invalidate_caches()`` (which PySpark's worker calls at the
    start of every task) reads no archive that did not change."""
    from osm2geojson_lite_spark import Options, convert
    from osm2geojson_lite_spark.sources.synth import generate_documents

    assert convert(generate_documents(spark, 4), Options()).count() == 4

    def probe(batches):
        import pandas as pd

        # the worker that runs this task need not be one that ran the
        # kernel; importing the package is what the kernel did
        import osm2geojson_lite_spark  # noqa: F401

        importlib.invalidate_caches()  # stamps archives on a fresh worker
        reads: list[str] = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        held = sorted({f.archive for f in sys.path_importer_cache.values()
                       if isinstance(f, zipimport.zipimporter)})
        for _ in batches:
            pass
        yield pd.DataFrame({"held": [held], "reads": [reads]})

    row = (spark.range(1).repartition(1)
           .mapInPandas(probe, schema="held array<string>, reads array<string>")
           .collect()[0])
    assert any(a.endswith("pyspark.zip") for a in row.held), row.held
    assert row.reads == []
