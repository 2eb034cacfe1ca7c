"""The driver JVM's class-data-sharing archive and Python-library overlay
(`cds`): which flags and Spark home a launch gets, the fallbacks that
keep a bad archive or a partial overlay away from the JVM, one builder
at a time, a bounded build, and a JVM started through the overlay that
maps Spark classes from the archive while its Python processes import
byte-compiled PySpark from the overlay."""

import importlib.machinery
import importlib.util
import json
import os
import pathlib
import shlex
import shutil
import stat
import subprocess
import sys
import tempfile
import threading
import time
import zipfile

import pytest
from pyspark import SparkContext

from duckdb_extension_kafquack_spark import cds

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def cache(tmp_path, monkeypatch):
    """An empty cache directory and the stock conf dir."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    return tmp_path / "xdg" / "kafquack-spark"


def _publish_fake(d, key, size=64, recorded=None):
    d.mkdir(parents=True, exist_ok=True)
    (d / f"{key}.jsa").write_bytes(b"x" * size)
    (d / f"{key}.json").write_text(json.dumps({"size": size if recorded is None else recorded}))


def test_absent_archive_records_classes(cache):
    launch = cds.plan()
    assert launch is not None and launch.classlist
    assert launch.java_options == f"-XX:DumpLoadedClassList={launch.classlist}"
    assert os.path.basename(launch.classlist) == f"{launch.key}.{os.getpid()}.classlist"
    assert os.path.isdir(cache / "conf") and not os.listdir(cache / "conf")


def test_valid_archive_is_used_with_verification(cache):
    key = cds.plan().key
    _publish_fake(cache, key)
    launch = cds.plan()
    assert launch.classlist is None
    assert shlex.split(launch.java_options) == [
        f"-XX:SharedArchiveFile={cache / (key + '.jsa')}",
        "-Xshare:auto",
        "-XX:+VerifySharedSpaces",
    ]


def test_truncated_archive_is_never_passed(cache):
    """A short archive aborts the JVM with SIGBUS even under -Xshare:auto:
    a size that differs from the published one means no archive."""
    key = cds.plan().key
    _publish_fake(cache, key, size=63, recorded=64)
    launch = cds.plan()
    assert "SharedArchiveFile" not in launch.java_options and launch.classlist


def test_archive_under_a_stale_key_is_ignored_and_pruned(cache, monkeypatch):
    key = cds.plan().key
    _publish_fake(cache, "0123456789abcdef")
    (cache / "0123456789abcdef.99999999.classlist").write_text("")
    launch = cds.plan()
    assert launch.key == key and launch.classlist
    rec = _recording(launch, monkeypatch, sleep_s=0)
    assert rec.publish()
    assert sorted(os.listdir(cache)) == sorted(["build.lock", "conf", f"{key}.jsa", f"{key}.json", os.path.basename(launch.classlist)])
    assert cds.plan().classlist is None


def test_user_conf_dir_leaves_the_launch_untouched(cache, tmp_path, monkeypatch):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-env.sh.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert cds.plan() is not None  # templates only
    (conf / "spark-defaults.conf").write_text("spark.executor.cores 2\n")
    assert cds.plan() is None

    class Builder:
        def config(self, *args):
            raise AssertionError(f"config{args}")

    monkeypatch.setattr(SparkContext, "_gateway", None)
    before = dict(os.environ)
    with cds.driver_archive(Builder()):
        assert dict(os.environ) == before
    assert dict(os.environ) == before


def test_conf_dir_is_swapped_for_the_launch_only(cache, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))  # empty: stock
    seen = {}

    class Builder:
        def config(self, k, v):
            seen[k] = v

    monkeypatch.setattr(SparkContext, "_gateway", None)
    with cds.driver_archive(Builder()):
        assert os.environ["SPARK_CONF_DIR"] == str(cache / "conf")
    assert os.environ["SPARK_CONF_DIR"] == str(tmp_path)
    assert seen["spark.driver.defaultJavaOptions"].startswith("-XX:DumpLoadedClassList=")


def test_unwritable_cache_gives_no_flags(tmp_path, monkeypatch):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    assert cds.plan() is None
    assert cds.overlay_plan() is None
    assert cds.socket_dir() is None


def _recording(launch, monkeypatch, sleep_s, pid_file=None):
    """A recording whose dump is a stand-in process: it writes its pid,
    sleeps, then writes a small archive."""
    with open(launch.classlist, "w") as fh:
        fh.write("java/lang/Object id: 0\n")
    script = (
        "import os, sys, time\n"
        "if sys.argv[2]: open(sys.argv[2], 'w').write(str(os.getpid()))\n"
        "time.sleep(float(sys.argv[3]))\n"
        "open(sys.argv[1], 'wb').write(b'a' * 1000)\n"
    )
    monkeypatch.setattr(
        cds,
        "dump_command",
        lambda rec, archive: [sys.executable, "-c", script, archive, str(pid_file or ""), str(sleep_s)],
    )
    launch.classpath, launch.jvm_flags = "", []
    return launch


def test_concurrent_builders_one_builds_neither_fails(cache, monkeypatch):
    rec = _recording(cds.plan(), monkeypatch, sleep_s=1.0)
    results, errors = [], []

    def run():
        try:
            results.append(rec.publish())
        except Exception as e:  # noqa: BLE001 — the assertion reports it
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert not errors and sorted(results) == [False, True]
    assert rec.complete()


def test_dump_past_the_timeout_is_killed_and_cleaned(cache, tmp_path, monkeypatch):
    launch = cds.plan()
    pid_file = tmp_path / "dumper.pid"
    rec = _recording(launch, monkeypatch, sleep_s=60, pid_file=pid_file)
    t = time.perf_counter()
    assert not rec.publish(timeout=2)
    assert time.perf_counter() - t < 20
    with pytest.raises(ProcessLookupError):  # killed and reaped
        os.kill(int(pid_file.read_text()), 0)
    assert not [n for n in os.listdir(cache) if n.endswith(".tmp") or n.endswith(".jsa")]
    # each failure is counted; past the cap, processes stop recording
    for _ in range(cds.MAX_FAILED_BUILDS - 1):
        assert cds.plan().classlist
        assert not _recording(launch, monkeypatch, sleep_s=60).publish(timeout=0.2)
    assert cds.plan() is None


def test_bit_flipped_archive_falls_back(cache):
    """A JVM given the chosen flags starts even when the archive's bytes
    are corrupt: VerifySharedSpaces rejects it and the JVM runs without
    sharing."""
    launch = cds.plan()
    archive = cache / f"{launch.key}.jsa"
    classlist = cache / "tiny.classlist"
    classlist.write_text("java/lang/Object\njava/lang/String\n")
    subprocess.run(
        [launch.java, "-Xshare:dump", f"-XX:SharedClassListFile={classlist}", f"-XX:SharedArchiveFile={archive}"],
        check=True,
        capture_output=True,
        timeout=120,
    )
    data = bytearray(archive.read_bytes())
    for i in range(len(data) // 2, len(data) // 2 + 4096):
        data[i] ^= 0xFF
    archive.write_bytes(bytes(data))
    (cache / f"{launch.key}.json").write_text(json.dumps({"size": len(data)}))
    options = cds.plan().java_options
    assert "-XX:+VerifySharedSpaces" in options
    out = subprocess.run(
        [launch.java, *shlex.split(options), "-version"], capture_output=True, text=True, timeout=60
    )
    assert out.returncode == 0, out.stderr


@pytest.fixture
def home(tmp_path, monkeypatch):
    """A small Spark home whose pyspark.zip and py4j zip hold one package
    each; the launch would use it.  Overlay locks taken meanwhile are
    released afterwards."""
    h = tmp_path / "spark"
    for sub in ("bin", "jars", "conf", "python/pyspark", "python/lib"):
        (h / sub).mkdir(parents=True)
    (h / "RELEASE").write_text("Spark\n")
    (h / "python/lib/PY4J_LICENSE.txt").write_text("")
    for name, files in {
        "pyspark.zip": {"pyspark/__init__.py": "X = 1\n", "pyspark/sql/__init__.py": ""},
        "py4j-0.10.9.9-src.zip": {"py4j/__init__.py": ""},
    }.items():
        with zipfile.ZipFile(h / "python/lib" / name, "w") as zf:
            for path, text in files.items():
                zf.writestr(path, text)
    monkeypatch.setenv("SPARK_HOME", str(h))
    in_use = []
    monkeypatch.setattr(cds, "_IN_USE", in_use)
    yield h
    for fh in in_use:
        fh.close()


def _listing(root):
    return sorted(
        (os.path.relpath(os.path.join(d, n), root), os.path.islink(os.path.join(d, n)))
        for d, dirs, files in os.walk(root)
        for n in dirs + files
    )


def _launch_home(monkeypatch):
    """SPARK_HOME as driver_archive sets it for a launch, and after."""

    class Builder:
        def config(self, *args):
            pass

    monkeypatch.setattr(SparkContext, "_gateway", None)
    with cds.driver_archive(Builder()):
        during = os.environ.get("SPARK_HOME")
    return during, os.environ.get("SPARK_HOME")


def test_overlay_links_the_home_and_compiles_the_zips(cache, home, monkeypatch):
    before = _listing(home)
    overlay = cds.overlay_plan()
    assert overlay.path == str(cache / (cds.OVERLAY + overlay.key))
    assert _launch_home(monkeypatch) == (str(home), str(home))  # not built yet
    assert overlay.publish()
    assert not overlay.publish()  # published: nothing to do
    root = overlay.path
    for rel in ("bin", "jars", "conf", "RELEASE", "python/pyspark", "python/lib/PY4J_LICENSE.txt"):
        assert os.readlink(os.path.join(root, rel)) == str(home / rel)
    for rel in ("python", "python/lib", "python/lib/pyspark.zip", "python/lib/py4j-0.10.9.9-src.zip"):
        assert os.path.isdir(os.path.join(root, rel)) and not os.path.islink(os.path.join(root, rel))
    for tree, pkg in (("pyspark.zip", "pyspark"), ("py4j-0.10.9.9-src.zip", "py4j")):
        spec = importlib.machinery.PathFinder.find_spec(pkg, [os.path.join(root, "python/lib", tree)])
        assert spec.origin == os.path.join(root, "python/lib", tree, pkg, "__init__.py")
        assert os.path.isfile(importlib.util.cache_from_source(spec.origin))
    assert sorted(os.listdir(cache)) == sorted(["build.lock", "conf", cds.OVERLAY + overlay.key])
    assert _listing(home) == before
    assert _launch_home(monkeypatch) == (root, str(home))


def test_partial_overlay_is_never_used(cache, home, monkeypatch):
    overlay = cds.overlay_plan()
    os.makedirs(os.path.join(overlay.path, "python/lib/pyspark.zip"))
    open(os.path.join(overlay.path, cds.OVERLAY_DONE), "w").close()  # py4j tree missing
    assert _launch_home(monkeypatch) == (str(home), str(home))
    assert overlay.publish()  # replaced by a complete one
    assert _launch_home(monkeypatch)[0] == overlay.path


def test_home_without_pyspark_zip_leaves_the_launch_untouched(cache, home, monkeypatch):
    (home / "python/lib/pyspark.zip").unlink()
    assert cds.overlay_plan() is None
    assert _launch_home(monkeypatch) == (str(home), str(home))


def test_killed_builders_temp_dir_is_removed(cache, home, monkeypatch):
    overlay = cds.overlay_plan()
    dead = f"{overlay.path}.99999999.tmp"
    os.makedirs(os.path.join(dead, "python/lib/pyspark.zip/pyspark"))
    os.symlink(home / "jars", os.path.join(dead, "jars"))
    assert _launch_home(monkeypatch) == (str(home), str(home))
    assert overlay.publish()
    assert not os.path.lexists(dead) and os.path.isdir(home / "jars")
    assert _launch_home(monkeypatch)[0] == overlay.path


def test_changed_zip_names_a_new_overlay_and_prunes_the_old(cache, home, monkeypatch):
    first = cds.overlay_plan()
    assert first.publish()
    assert first.use()  # a live process launched through it
    zip_path = home / "python/lib/pyspark.zip"
    mtime = zip_path.stat().st_mtime_ns
    os.utime(zip_path, ns=(mtime, mtime + 10**9))
    second = cds.overlay_plan()
    assert second.key != first.key
    assert _launch_home(monkeypatch) == (str(home), str(home))  # stale one unused
    assert second.publish()
    assert os.path.isdir(first.path)  # kept while in use
    cds._IN_USE.pop().close()
    os.utime(zip_path, ns=(mtime, mtime + 2 * 10**9))
    third = cds.overlay_plan()
    assert third.publish()
    assert sorted(n for n in os.listdir(cache) if n.startswith(cds.OVERLAY)) == [cds.OVERLAY + third.key]
    assert os.path.isfile(zip_path) and os.path.isdir(home / "jars")


def test_concurrent_overlay_builders_one_builds(cache, home, monkeypatch):
    stock = cds.compile_command
    wait = "import subprocess, sys, time; time.sleep(1); sys.exit(subprocess.call(sys.argv[1:]))"
    monkeypatch.setattr(cds, "compile_command", lambda trees: [sys.executable, "-c", wait, *stock(trees)])
    overlay = cds.overlay_plan()
    results, errors = [], []

    def run():
        try:
            results.append(overlay.publish())
        except Exception as e:  # noqa: BLE001 — the assertion reports it
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert not errors and sorted(results) == [False, True]
    assert overlay.complete()


def test_compile_past_the_timeout_publishes_nothing(cache, home, monkeypatch):
    monkeypatch.setattr(cds, "compile_command", lambda trees: [sys.executable, "-c", "import time; time.sleep(60)"])
    overlay = cds.overlay_plan()
    t = time.perf_counter()
    assert not overlay.publish(timeout=1)
    assert time.perf_counter() - t < 20
    assert not [n for n in os.listdir(cache) if n.startswith(cds.OVERLAY)]
    assert _launch_home(monkeypatch) == (str(home), str(home))


def test_overlay_stops_building_after_repeated_failures(cache, home, monkeypatch):
    """A host whose compile always runs past the timeout pays for it
    MAX_FAILED_BUILDS times under one key, not at every exit."""
    stock = cds.compile_command
    monkeypatch.setattr(cds, "compile_command", lambda trees: [sys.executable, "-c", "import time; time.sleep(60)"])
    overlay = cds.overlay_plan()
    for _ in range(cds.MAX_FAILED_BUILDS):
        assert not overlay.publish(timeout=0.5)
    monkeypatch.setattr(cds, "compile_command", stock)
    assert not overlay.publish()  # would now succeed, but is not tried
    assert not overlay.complete()
    assert not [n for n in os.listdir(cache) if n.startswith(cds.OVERLAY)]


def test_archive_prune_leaves_overlays_alone(cache):
    archive = cds.plan()
    for name in (cds.OVERLAY + "0123456789abcdef", cds.OVERLAY + "0123456789abcdef.99999999.tmp"):
        (cache / name / "python").mkdir(parents=True)
    archive.prune()
    assert sorted(n for n in os.listdir(cache) if n.startswith(cds.OVERLAY)) == [
        cds.OVERLAY + "0123456789abcdef",
        cds.OVERLAY + "0123456789abcdef.99999999.tmp",
    ]


def test_archive_prune_leaves_socket_dirs_alone(cache, monkeypatch):
    archive = cds.plan()
    (cache / f"{cds.SOCKETS}1-abc").mkdir()
    (cache / "stale.jsa").write_text("")
    removed = []
    monkeypatch.setattr(cds.os, "remove", removed.append)
    archive.prune()
    assert removed == [str(cache / "stale.jsa")]


def test_socket_dir_is_private_and_replaces_dead_processes_dirs(monkeypatch):
    # pytest's tmp_path is too long a home for sockets
    base = tempfile.mkdtemp()
    monkeypatch.setenv("XDG_CACHE_HOME", base)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    cache = pathlib.Path(base, "kafquack-spark")
    dead = subprocess.Popen([sys.executable, "-c", ""])
    dead.wait()
    stale = cache / f"{cds.SOCKETS}{dead.pid}-abc"
    live = cache / f"{cds.SOCKETS}{os.getppid()}-abc"
    for d in (stale, live):
        d.mkdir(parents=True)
        (d / ".x.sock").write_text("")
    path = cds.socket_dir()
    try:
        assert sorted(os.listdir(cache)) == sorted([live.name, os.path.basename(path)])
        assert os.path.basename(path).startswith(f"{cds.SOCKETS}{os.getpid()}-")
        st = os.stat(path)
        assert st.st_uid == os.getuid() and stat.S_IMODE(st.st_mode) == 0o700
        assert len(os.fsencode(path)) + cds.SOCKET_NAME_LEN <= cds.SOCKET_PATH_MAX
    finally:
        cds._remove_socket_dir(path, os.getpid())
        assert not os.path.exists(path)
        shutil.rmtree(base)


def test_socket_dir_falls_back_when_its_paths_would_not_fit(tmp_path, monkeypatch):
    cache = tmp_path / ("x" * 80) / "kafquack-spark"
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache.parent))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    assert cds.socket_dir() is None
    assert os.listdir(cache) == []
    # a JVM that runs already keeps the transport it was started with
    monkeypatch.setattr(SparkContext, "_gateway", object())
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "short"))
    assert cds.socket_dir() is None
    assert not os.path.exists(tmp_path / "short")


def test_archive_classpath_names_the_real_home(tmp_path):
    overlay = cds.Overlay(str(tmp_path), "k", "/spark", "/spark-4.1.2", [])
    cp = os.pathsep.join([f"{overlay.path}/conf", f"{overlay.path}/jars/a.jar", "/elsewhere/b.jar"])
    assert cds._home_classpath(cp, overlay) == os.pathsep.join(
        ["/spark/conf", "/spark/jars/a.jar", "/elsewhere/b.jar"]
    )
    assert cds._home_classpath(cp, None) == cp


RECORD = """
import sys
from pyspark import SparkContext
from duckdb_extension_kafquack_spark import cds
from duckdb_extension_kafquack_spark.session import get_spark

spark = get_spark("cds-record")
launch = cds.plan()
assert launch.classlist, "no archive yet"
opts = spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions")
assert opts.startswith("-XX:DumpLoadedClassList="), opts
jvm = SparkContext._jvm
args = [str(a) for a in jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()]
launch.classlist = sys.argv[1]
launch.classpath = str(jvm.java.lang.System.getProperty("java.class.path"))
launch.jvm_flags = [a for a in args if a.startswith("--add-")]
assert launch.publish()  # from a short list: the exit-time build finds it published
# no overlay yet: the JVM ran from the real home, and one is built at exit
assert jvm.java.lang.System.getenv("SPARK_HOME") == cds.overlay_plan().home
"""

USE = """
import importlib.util, json, os
from pyspark import SparkContext
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from duckdb_extension_kafquack_spark.session import get_spark


def where():
    import py4j, pyspark
    return [(m.__file__, os.path.exists(importlib.util.cache_from_source(m.__file__))) for m in (pyspark, py4j)]


def udf(batches):
    import pandas as pd
    for _ in batches:
        pass
    yield pd.DataFrame(where(), columns=["file", "pyc"])


class Planner(DataSourceReader):
    def partitions(self):  # runs in the data-source planner process
        return [InputPartition(w) for w in where()]

    def read(self, partition):
        yield partition.value


class Probe(DataSource):
    @classmethod
    def name(cls):
        return "overlay_probe"

    def schema(self):
        return "file string, pyc boolean"

    def reader(self, schema):
        return Planner()


home = os.environ["SPARK_HOME"]
spark = get_spark("cds-use")
spark.dataSource.register(Probe)
print(json.dumps({
    "java_options": spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions"),
    "count": spark.range(3).count(),
    "home": [home, os.environ["SPARK_HOME"]],
    "jvm_home": SparkContext._jvm.java.lang.System.getenv("SPARK_HOME"),
    "udf": [list(r) for r in spark.range(2, numPartitions=2).mapInPandas(udf, "file string, pyc boolean").collect()],
    "planner": [list(r) for r in spark.read.format("overlay_probe").load().collect()],
}))
"""

SPARK_CLASSES = [
    "org/apache/spark/SparkConf",
    "org/apache/spark/SparkContext",
    "org/apache/spark/util/Utils$",
    "org/apache/spark/sql/classic/SparkSession",
]


@pytest.fixture(scope="module")
def relaunch(tmp_path_factory):
    """End to end through get_spark: a recording launch from the real
    Spark home that publishes an archive and, at exit, the overlay; then
    a launch through the overlay, with its class-load log."""
    tmp = tmp_path_factory.mktemp("relaunch")
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
        XDG_CACHE_HOME=str(tmp / "xdg"),
        SPARK_GRAFT_CPUS="1",
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYSPARK_PYTHON=sys.executable,
    )
    env.pop("SPARK_CONF_DIR", None)
    classlist = tmp / "spark.classlist"
    classlist.write_text("\n".join(SPARK_CLASSES) + "\n")
    run = dict(cwd=tmp, capture_output=True, text=True, timeout=300)
    out = subprocess.run([sys.executable, "-c", RECORD, str(classlist)], env=env, **run)
    assert out.returncode == 0, out.stderr[-3000:]
    overlays = [n for n in os.listdir(tmp / "xdg" / "kafquack-spark") if n.startswith(cds.OVERLAY)]
    assert len(overlays) == 1, overlays

    log = tmp / "class-load.log"
    env["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options '-Xlog:class+load=info:file={log}' pyspark-shell"
    out = subprocess.run([sys.executable, "-c", USE], env=env, **run)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1]), log, str(tmp / "xdg" / "kafquack-spark" / overlays[0])


def test_spark_classes_map_from_the_archive(relaunch):
    """The JVM started through the overlay loads Spark classes from the
    archive recorded under the real home.  A silent 'shared class paths
    mismatch' would load them from jars."""
    facts, log, overlay = relaunch
    assert facts["jvm_home"] == overlay and facts["count"] == 3
    assert "-XX:SharedArchiveFile=" in facts["java_options"] and "-XX:+VerifySharedSpaces" in facts["java_options"]
    shared = {
        line.split()[1]
        for line in log.read_text().splitlines()
        if line.endswith("source: shared objects file") and " org.apache.spark." in line
    }
    assert {c.replace("/", ".") for c in SPARK_CLASSES} <= shared, sorted(shared)[:20]


def test_python_processes_import_compiled_pyspark_from_the_overlay(relaunch):
    """A UDF worker and the data-source planner import pyspark and py4j
    from the overlay's byte-compiled trees; the driver's SPARK_HOME is
    what it was before the launch."""
    facts, _, overlay = relaunch
    before, after = facts["home"]
    assert after == before != overlay
    lib = os.path.join(overlay, "python", "lib")
    (py4j,) = [n for n in os.listdir(lib) if n.startswith("py4j-") and n.endswith("-src.zip")]
    expected = [
        [os.path.join(lib, "pyspark.zip", "pyspark", "__init__.py"), True],
        [os.path.join(lib, py4j, "py4j", "__init__.py"), True],
    ]
    assert facts["udf"] == expected * 2
    assert facts["planner"] == expected
