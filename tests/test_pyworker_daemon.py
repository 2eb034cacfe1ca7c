"""Tests for the engine's PySpark worker daemon (pyworker_daemon.py): the
stat-checked ``zipimporter.invalidate_caches`` and its reach into every
Python-worker task of a ``get_spark`` session; and the session's
JVM-Python transport: Unix domain sockets in a private directory of the
cache, or loopback TCP when no such directory fits."""

import importlib
import json
import os
import shutil
import stat
import subprocess
import sys
import tempfile
import zipfile
import zipimport

import pytest

from duckdb_extension_kafquack_spark import cds, pyworker_daemon
from duckdb_extension_kafquack_spark.sources.datasource import read_kafquack
from duckdb_extension_kafquack_spark.sources.synthetic import (
    kafka_messages_from_events,
)
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def test_session_channels_run_over_private_unix_sockets(spark):
    """The fixture session carries its Python channels over Unix domain
    sockets in a 0700 directory of this process, whose socket paths fit
    in ``sun_path``; a mapInArrow job still returns its rows (the
    kafquack scan above runs over the same sockets)."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    d = conf.get("spark.python.unix.domain.socket.dir")
    assert os.path.basename(d).startswith(f"{cds.SOCKETS}{os.getpid()}-")
    st = os.stat(d)
    assert st.st_uid == os.getuid() and stat.S_IMODE(st.st_mode) == 0o700
    assert len(os.fsencode(d)) + cds.SOCKET_NAME_LEN <= cds.SOCKET_PATH_MAX

    def double(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            yield pa.RecordBatch.from_arrays([pc.multiply(b.column("id"), 2)], names=["x"])

    rows = spark.range(8, numPartitions=4).mapInArrow(double, "x long").collect()
    assert sorted(r.x for r in rows) == [2 * i for i in range(8)]
    # the engine daemon listens there
    assert any(n.endswith(".sock") for n in os.listdir(d))


CHILD = """
import atexit, json
from duckdb_extension_kafquack_spark import cds
from duckdb_extension_kafquack_spark.session import get_spark

spark = get_spark("uds-child")
# this process checks the transport only: no archive or overlay builds
atexit.unregister(cds._build_at_exit)


def plus_one(batches):
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        yield pa.RecordBatch.from_arrays([pc.add(b.column("id"), 1)], names=["x"])


conf = spark.sparkContext.getConf()
print(json.dumps({
    "uds": conf.get("spark.python.unix.domain.socket.enabled", None),
    "dir": conf.get("spark.python.unix.domain.socket.dir", None),
    "rows": sorted(r.x for r in spark.range(4, numPartitions=2).mapInArrow(plus_one, "x long").collect()),
}))
"""


@pytest.fixture(scope="module")
def children(tmp_path_factory):
    """Two get_spark processes, run at once: one whose cache holds a dead
    process's socket dir, and one whose cache path is too long for
    sockets.  Returns each one's cache dir and report."""
    tmp = tmp_path_factory.mktemp("uds")
    short = tempfile.mkdtemp()  # pytest's tmp paths are too long for sockets
    caches = {"fits": os.path.join(short, "kafquack-spark"), "long": str(tmp / ("x" * 80) / "kafquack-spark")}
    dead = subprocess.Popen([sys.executable, "-c", ""])
    dead.wait()
    os.makedirs(os.path.join(caches["fits"], f"{cds.SOCKETS}{dead.pid}-stale"))
    procs = {}
    for name, cache in caches.items():
        env = dict(
            os.environ,
            PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
            XDG_CACHE_HOME=os.path.dirname(cache),
            SPARK_GRAFT_CPUS="2",
            SPARK_GRAFT_DRIVER_MEM="1g",
            PYSPARK_PYTHON=sys.executable,
        )
        env.pop("SPARK_CONF_DIR", None)
        procs[name] = subprocess.Popen(
            [sys.executable, "-c", CHILD], env=env, cwd=tmp, text=True,
            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        )
    reports = {}
    for name, proc in procs.items():
        out, err = proc.communicate(timeout=300)
        assert proc.returncode == 0, err[-3000:]
        reports[name] = (caches[name], json.loads(out.strip().splitlines()[-1]))
    yield reports
    shutil.rmtree(short, ignore_errors=True)


def test_session_socket_dir_is_gone_after_exit(children):
    cache, report = children["fits"]
    assert report["uds"] == "true" and os.path.dirname(report["dir"]) == cache
    assert report["rows"] == [1, 2, 3, 4]
    assert not [n for n in os.listdir(cache) if n.startswith(cds.SOCKETS)]


def test_session_falls_back_to_tcp_when_socket_paths_would_not_fit(children):
    cache, report = children["long"]
    assert report["uds"] is None and report["dir"] is None
    assert report["rows"] == [1, 2, 3, 4]
    assert not [n for n in os.listdir(cache) if n.startswith(cds.SOCKETS)]
