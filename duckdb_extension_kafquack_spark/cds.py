"""Start the driver JVM from a class-data-sharing (AppCDS) archive.

A fresh driver JVM spends most of its start-up parsing and verifying the
15-17k Spark classes it loads from jars, and every process repeats that
work.  JDK 17's static AppCDS archive holds those classes already parsed
and verified; a JVM started with it maps them into memory instead
(traced perfbench ``topic_ingest`` runs on a 4-core VM: ``get_spark``
5.3-6.4 → 3.2-3.3 s, ``load_tables`` 3.1 → 1.3-1.4 s).

One archive per host lives in ``$XDG_CACHE_HOME/kafquack-spark`` (else
``~/.cache/kafquack-spark``), keyed on the JDK that ``spark-class`` runs
and on the Spark jar listing.  :func:`driver_archive` wraps the launch:

* a valid archive → the JVM starts from it;
* no archive → the JVM records the classes it loads, and at interpreter
  exit one process builds the archive from that list
  (``java -Xshare:dump``) under a non-blocking file lock and a timeout;
* anything unusual (a user conf dir, an unwritable cache, a JVM that is
  already running) → the launch is left exactly as it was.

The archive caches class metadata only, never data or results.
"""

from __future__ import annotations

import atexit
import contextlib
import ctypes
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from dataclasses import dataclass

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

# The exit-time dump took 30-45 s for 13.6-17.4k classes on a 4-core VM;
# 60 s keeps a perfbench build run (~55 s worker + dump) well inside its
# 150 s worker limit, and a dump that needs longer is killed.
BUILD_TIMEOUT_S = 60
# After this many failed or timed-out builds under one key, processes stop
# recording, so a host that cannot build pays for it only a few times.
MAX_FAILED_BUILDS = 3
# How long the exit hook waits for the driver JVM to exit (and finish
# writing its class list) after closing the gateway's stdin.
JVM_EXIT_WAIT_S = 15
PR_SET_PDEATHSIG = 1


@dataclass
class Launch:
    """The archive plan for one driver launch."""

    dir: str  # the cache directory
    key: str  # JDK + Spark jar listing
    java: str  # the java binary spark-class runs
    java_options: str  # for spark.driver.defaultJavaOptions
    classlist: str | None = None  # set when this launch records classes


@dataclass
class Recording:
    """What an exit-time build needs from the recording launch."""

    launch: Launch
    classpath: str  # the JVM's exact java.class.path
    jvm_flags: list[str]  # its --add-* module flags
    jvm: subprocess.Popen | None = None  # the driver JVM, stopped before the dump
    pid: int = 0  # the Python process that launched it


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "kafquack-spark")


def _java() -> str | None:
    """The java binary ``spark-class`` will run: ``$JAVA_HOME/bin/java``,
    else ``java`` on ``PATH``."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _archive_key(java: str, spark_home: str) -> str:
    """Hash of the JDK (binary and module image) and the Spark jar listing
    (name, size, mtime): any JDK or jar change names a new archive."""
    h = hashlib.sha256()
    jdk_files = [java, os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "modules")]
    for path in jdk_files:
        if os.path.exists(path):
            st = os.stat(path)
            h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    for entry in sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name):
        st = entry.stat()
        h.update(f"{entry.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _paths(d: str, key: str) -> tuple[str, str, str]:
    """The archive, its size record and its failed-build count."""
    base = os.path.join(d, key)
    return base + ".jsa", base + ".json", base + ".failed"


def archive_ok(d: str, key: str) -> bool:
    """The archive exists and has the size recorded when it was published:
    the JDK aborts on a truncated archive (SIGBUS) even under
    ``-Xshare:auto``, so a short file must never reach it."""
    archive, meta, _ = _paths(d, key)
    try:
        with open(meta) as fh:
            return os.path.getsize(archive) == json.load(fh)["size"]
    except (OSError, ValueError, KeyError, TypeError):
        return False


def _failed_builds(d: str, key: str) -> int:
    try:
        with open(_paths(d, key)[2]) as fh:
            return int(fh.read() or 0)
    except (OSError, ValueError):
        return 0


def _only_templates(conf_dir: str) -> bool:
    """Spark puts the conf dir on the classpath, and the JDK cannot archive
    with a non-empty directory there; a stock conf dir holds only
    ``*.template`` files, which Spark never reads."""
    try:
        return all(name.endswith(".template") for name in os.listdir(conf_dir))
    except FileNotFoundError:
        return True
    except OSError:
        return False


def plan() -> Launch | None:
    """The archive plan for a driver JVM about to start, or None to launch
    it untouched."""
    java = _java()
    if java is None:
        return None
    try:
        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        if not _only_templates(conf_dir):
            return None
        d = _cache_dir()
        if any(c.isspace() or c in "\"'\\" for c in d):  # not passable in a java option string
            return None
        os.makedirs(os.path.join(d, "conf"), exist_ok=True)
        if not os.access(d, os.W_OK) or os.listdir(os.path.join(d, "conf")):
            return None
        key = _archive_key(java, spark_home)
    except OSError:
        return None
    if archive_ok(d, key):
        archive = _paths(d, key)[0]
        # VerifySharedSpaces checksums the archive (0.10-0.16 s per start):
        # without it a bit-flipped archive is mapped as is.
        options = f"-XX:SharedArchiveFile={archive} -Xshare:auto -XX:+VerifySharedSpaces"
        return Launch(d, key, java, options)
    if _failed_builds(d, key) >= MAX_FAILED_BUILDS:
        return None
    classlist = os.path.join(d, f"{key}.{os.getpid()}.classlist")
    return Launch(d, key, java, f"-XX:DumpLoadedClassList={classlist}", classlist)


@contextlib.contextmanager
def driver_archive(builder):
    """Around ``builder.getOrCreate()``: when it is about to start the
    driver JVM, start it from the archive or record its classes for one.

    The options go through ``spark.driver.defaultJavaOptions``, because
    ``--driver-java-options`` in ``PYSPARK_SUBMIT_ARGS`` sets
    ``spark.driver.extraJavaOptions`` after the builder's confs.  For the
    launch only, ``SPARK_CONF_DIR`` names an empty directory in the cache
    (the stock conf dir holds only templates)."""
    launch = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        launch = plan()
    if launch is None:
        yield
        return
    builder.config("spark.driver.defaultJavaOptions", launch.java_options)
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(launch.dir, "conf")
    try:
        yield
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if launch.classlist and SparkContext._gateway is not None:
        with contextlib.suppress(Py4JError):  # no build, never a failed session
            _record(launch)


def _record(launch: Launch) -> None:
    """Read the live JVM's class path and module flags, and build the
    archive at interpreter exit.  If another setting replaced the
    options, the JVM records nothing and no build runs."""
    jvm = SparkContext._jvm
    args = [str(a) for a in jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()]
    if f"-XX:DumpLoadedClassList={launch.classlist}" not in args:
        return
    rec = Recording(
        launch,
        classpath=str(jvm.java.lang.System.getProperty("java.class.path")),
        jvm_flags=[a for a in args if a.startswith("--add-")],
        jvm=SparkContext._gateway.proc,
        pid=os.getpid(),
    )
    atexit.register(_build_at_exit, rec)


def _build_at_exit(rec: Recording) -> None:
    if os.getpid() != rec.pid:  # a forked child inherited the hook
        return
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()  # before its JVM goes
        if rec.jvm is not None and rec.jvm.stdin is not None:
            # the JVM exits on stdin EOF and flushes its class list
            rec.jvm.stdin.close()
            with contextlib.suppress(subprocess.TimeoutExpired):
                rec.jvm.wait(JVM_EXIT_WAIT_S)
        build(rec)
    except Exception as e:  # noqa: BLE001 — never fail the exit of the program
        print(f"kafquack-spark: class-data-sharing archive not built: {e}", file=sys.stderr)
    finally:
        with contextlib.suppress(OSError):
            os.remove(rec.launch.classlist)


def _complete_lines(path: str) -> None:
    """Cut a class list written by a JVM that did not exit to its last
    complete line."""
    with open(path, "rb+") as fh:
        data = fh.read()
        end = data.rfind(b"\n") + 1
        if end != len(data):
            fh.truncate(end)


def dump_command(rec: Recording, archive: str) -> list[str]:
    return [
        rec.launch.java,
        "-Xshare:dump",
        f"-XX:SharedClassListFile={rec.launch.classlist}",
        f"-XX:SharedArchiveFile={archive}",
        "-cp",
        rec.classpath,
        *rec.jvm_flags,
    ]


def build(rec: Recording, timeout: float = BUILD_TIMEOUT_S) -> bool:
    """Build and publish the archive from a recorded class list.  Exactly
    one process builds: the others find the lock taken (or the archive
    published) and return False.  A dump past ``timeout`` is killed and
    its files removed; the dumper dies with this process."""
    d, key = rec.launch.dir, rec.launch.key
    archive, meta, failed = _paths(d, key)
    with open(os.path.join(d, "build.lock"), "a") as lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            return False
        if archive_ok(d, key) or _failed_builds(d, key) >= MAX_FAILED_BUILDS:
            return False
        _complete_lines(rec.launch.classlist)
        tmp = f"{archive}.{os.getpid()}.tmp"
        prctl = None
        if sys.platform.startswith("linux"):
            prctl = ctypes.CDLL(None, use_errno=True).prctl
            prctl.argtypes, prctl.restype = [ctypes.c_int, ctypes.c_ulong], ctypes.c_int
        dumper = subprocess.Popen(
            dump_command(rec, tmp),
            stdin=subprocess.DEVNULL,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
            preexec_fn=(lambda: prctl(PR_SET_PDEATHSIG, signal.SIGKILL)) if prctl else None,
        )
        try:
            ok = dumper.wait(timeout) == 0 and os.path.getsize(tmp) > 0
        except (subprocess.TimeoutExpired, OSError):  # too slow, or no archive written
            ok = False
        finally:
            if dumper.poll() is None:
                dumper.kill()
                dumper.wait()
        if not ok:
            with contextlib.suppress(OSError):
                os.remove(tmp)
            count = _failed_builds(d, key) + 1
            with open(failed, "w") as fh:
                fh.write(str(count))
            return False
        with open(meta + ".tmp", "w") as fh:
            json.dump({"size": os.path.getsize(tmp)}, fh)
        os.replace(meta + ".tmp", meta)
        os.replace(tmp, archive)
        _prune(d, key)
        return True


def _prune(d: str, key: str) -> None:
    """Keep only the current key's archive and size record, and the class
    lists of recorders still running; called under the build lock."""
    for name in os.listdir(d):
        parts = name.split(".")
        if name in ("build.lock", "conf") or (
            parts[0] == key
            and (name.endswith((".jsa", ".json")) or (name.endswith(".classlist") and _alive(int(parts[1]))))
        ):
            continue
        with contextlib.suppress(OSError):
            os.remove(os.path.join(d, name))


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True
