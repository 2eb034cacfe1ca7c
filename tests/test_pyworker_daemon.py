"""Tests for the engine's PySpark worker daemon (pyworker_daemon.py): the
stat-checked ``zipimporter.invalidate_caches`` and its reach into every
Python-worker task of a ``get_spark`` session."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from duckdb_extension_kafquack_spark import pyworker_daemon
from duckdb_extension_kafquack_spark.sources.datasource import read_kafquack
from duckdb_extension_kafquack_spark.sources.synthetic import (
    kafka_messages_from_events,
)
from tests.conftest import SF_DIR


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="patch is CPython < 3.13 only")
def test_unchanged_archive_read_at_most_once(tmp_path, monkeypatch):
    """Two zipimporters on one archive (the package and its subpackage,
    as pyspark.zip has one per subpackage): one invalidate_caches call
    reads the unchanged directory at most once, a second reads nothing,
    and an archive rewritten in place is re-read so its new module
    imports."""
    archive = str(tmp_path / "kq_mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("kq_zip_pkg/__init__.py", "")
        zf.writestr("kq_zip_pkg/sub.py", "X = 1\n")

    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(pyworker_daemon, "_READ", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pyworker_daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    try:
        importlib.import_module("kq_zip_pkg.sub")
        importers = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and f.archive == archive
        ]
        assert len(importers) == 2

        reads.clear()
        importlib.invalidate_caches()
        assert len(reads) <= 1
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        with zipfile.ZipFile(archive, "a") as zf:
            zf.writestr("kq_zip_new.py", "Y = 2\n")
        reads.clear()
        importlib.invalidate_caches()
        assert len(reads) == 1
        assert importlib.import_module("kq_zip_new").Y == 2
    finally:
        for name in ("kq_zip_pkg", "kq_zip_pkg.sub", "kq_zip_new"):
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]


def test_session_workers_run_the_engine_daemon(spark):
    """Every Python-worker task of a get_spark session forks from the
    engine's daemon (patched on CPython < 3.13), and the kafquack batch
    scan still equals the synthetic harness."""

    def invalidate_module(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame(
            {"module": [zipimport.zipimporter.invalidate_caches.__module__]}
        )

    modules = {
        r.module
        for r in spark.range(4, numPartitions=4)
        .mapInPandas(invalidate_module, "module string")
        .collect()
    }
    patched = sys.version_info < (3, 13)
    assert (modules == {pyworker_daemon.__name__}) is patched

    got = read_kafquack(spark, "localhost:9092", "events", "g", fixture_dir=SF_DIR)
    ref = kafka_messages_from_events(spark, SF_DIR)
    assert got.count() == ref.count()
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0
