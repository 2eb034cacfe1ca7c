"""The driver JVM's class-data-sharing archive (`cds`): which flags a
launch gets, the fallbacks that keep a bad archive away from the JVM,
one builder at a time, a bounded dump, and a JVM that really maps Spark
classes from an archive published under the chosen flags."""

import json
import os
import shlex
import subprocess
import sys
import threading
import time

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
    assert cds.build(rec)
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
    assert cds.plan() is None


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
    return cds.Recording(launch, classpath="", jvm_flags=[])


def test_concurrent_builders_one_builds_neither_fails(cache, monkeypatch):
    rec = _recording(cds.plan(), monkeypatch, sleep_s=1.0)
    results, errors = [], []

    def run():
        try:
            results.append(cds.build(rec))
        except Exception as e:  # noqa: BLE001 — the assertion reports it
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert not errors and sorted(results) == [False, True]
    assert cds.archive_ok(str(cache), rec.launch.key)


def test_dump_past_the_timeout_is_killed_and_cleaned(cache, tmp_path, monkeypatch):
    launch = cds.plan()
    pid_file = tmp_path / "dumper.pid"
    rec = _recording(launch, monkeypatch, sleep_s=60, pid_file=pid_file)
    t = time.perf_counter()
    assert not cds.build(rec, timeout=2)
    assert time.perf_counter() - t < 20
    with pytest.raises(ProcessLookupError):  # killed and reaped
        os.kill(int(pid_file.read_text()), 0)
    assert not [n for n in os.listdir(cache) if n.endswith(".tmp") or n.endswith(".jsa")]
    # each failure is counted; past the cap, processes stop recording
    for _ in range(cds.MAX_FAILED_BUILDS - 1):
        assert cds.plan().classlist
        assert not cds.build(_recording(launch, monkeypatch, sleep_s=60), timeout=0.2)
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


RECORD = """
import atexit, sys
from pyspark import SparkContext
from duckdb_extension_kafquack_spark import cds
from duckdb_extension_kafquack_spark.session import get_spark

spark = get_spark("cds-record")
atexit.unregister(cds._build_at_exit)  # build from a short list instead
launch = cds.plan()
assert launch.classlist, "no archive yet"
opts = spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions")
assert opts.startswith("-XX:DumpLoadedClassList="), opts
jvm = SparkContext._jvm
args = [str(a) for a in jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()]
launch.classlist = sys.argv[1]
rec = cds.Recording(
    launch,
    classpath=str(jvm.java.lang.System.getProperty("java.class.path")),
    jvm_flags=[a for a in args if a.startswith("--add-")],
)
assert cds.build(rec)
"""

USE = """
from duckdb_extension_kafquack_spark.session import get_spark

spark = get_spark("cds-use")
print(spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions"))
print(spark.range(3).count())
"""

SPARK_CLASSES = [
    "org/apache/spark/SparkConf",
    "org/apache/spark/SparkContext",
    "org/apache/spark/util/Utils$",
    "org/apache/spark/sql/classic/SparkSession",
]


def test_spark_classes_map_from_the_archive(tmp_path):
    """End to end through get_spark: a recording launch, a published
    archive, then a launch whose JVM loads Spark classes from it.  A
    silent 'shared class paths mismatch' would load them from jars."""
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
        XDG_CACHE_HOME=str(tmp_path / "xdg"),
        SPARK_GRAFT_CPUS="1",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    env.pop("SPARK_CONF_DIR", None)
    classlist = tmp_path / "spark.classlist"
    classlist.write_text("\n".join(SPARK_CLASSES) + "\n")
    run = dict(cwd=tmp_path, capture_output=True, text=True, timeout=300)
    out = subprocess.run([sys.executable, "-c", RECORD, str(classlist)], env=env, **run)
    assert out.returncode == 0, out.stderr[-3000:]

    log = tmp_path / "class-load.log"
    env["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options '-Xlog:class+load=info:file={log}' pyspark-shell"
    out = subprocess.run([sys.executable, "-c", USE], env=env, **run)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "-XX:SharedArchiveFile=" in out.stdout and "-XX:+VerifySharedSpaces" in out.stdout
    shared = {
        line.split()[1]
        for line in log.read_text().splitlines()
        if line.endswith("source: shared objects file") and " org.apache.spark." in line
    }
    assert {c.replace("/", ".") for c in SPARK_CLASSES} <= shared, sorted(shared)[:20]
