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

The same wrapper also starts every Python process Spark launches from
byte-compiled PySpark.  Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``
and ``py4j-*-src.zip`` first on each worker's ``PYTHONPATH``
(``PythonUtils.sparkPythonPath``, built from the JVM's ``SPARK_HOME``;
no conf reorders it).  The zips hold no ``.pyc`` files, so each data
source planner, stream runner and worker daemon compiled the PySpark it
imports from source (``import
pyspark.sql.streaming.python_streaming_source_runner``: 0.80-0.83 s from
the zip, 0.18-0.21 s from a byte-compiled directory).  So the JVM starts
with ``SPARK_HOME`` naming a per-host *overlay* in the same cache: it
symlinks every entry of the real Spark home except those two zips, whose
paths are directories holding the extracted, byte-compiled trees (Python
imports from a directory whatever its name).  The overlay is built at
interpreter exit like the archive and published with one rename; a
launch with no complete overlay is left as it was.

The cache also holds one directory per process for the Unix domain
sockets that carry a ``get_spark`` session's JVM-Python channels
(:func:`socket_dir`).
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
import tempfile
import zipfile
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
# The overlay of one key is the cache entry OVERLAY + key; a builder lays
# it out in OVERLAY + key + ".<pid>.tmp" and renames that into place.
OVERLAY = "spark-home-"
# Written last into a laid-out overlay.  Each process that launches
# through an overlay holds a shared lock on it until it exits, so no
# builder prunes an overlay whose JVM and Python workers still run.
OVERLAY_DONE = ".kafquack-overlay"
# The directories an overlay re-creates (every other entry is a symlink):
# the home itself, then down to the zips.
LAID_OUT = ("", "python", os.path.join("python", "lib"))
# compileall's worker processes (~1.7 s for pyspark.zip on a 4-core VM)
COMPILE_JOBS = 4
# The socket directory of the process with pid P is the cache entry
# SOCKETS + "P-" + a random suffix.
SOCKETS = "uds-"
# Spark names each socket ``<dir>/.<uuid4>.sock``: 43 bytes after the dir.
SOCKET_NAME_LEN = 43
# sun_path holds 108 bytes with its terminating NUL.
SOCKET_PATH_MAX = 107


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


@dataclass
class Overlay:
    """The Python-library overlay of one Spark home."""

    dir: str  # the cache directory
    key: str  # real home + zip stats + listings + bytecode cache tag
    home: str  # the Spark home the launch would otherwise use
    real: str  # its realpath, which the overlay's symlinks name
    zips: list[str]  # pyspark.zip, then py4j-*-src.zip, under ``real``

    @property
    def path(self) -> str:
        return os.path.join(self.dir, OVERLAY + self.key)


# Open shared locks on the overlays this process launched through.  They
# are per process by nature: each must be held until the process exits.
_IN_USE: list = []


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


def _jvm_running() -> bool:
    """This process already has a driver JVM (started here or handed in
    by ``spark-submit``), so the next session starts none."""
    return SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ


@contextlib.contextmanager
def driver_archive(builder):
    """Around ``builder.getOrCreate()``: when it is about to start the
    driver JVM, start it from the archive or record its classes for one,
    and point it at the Python-library overlay.

    The options go through ``spark.driver.defaultJavaOptions``, because
    ``--driver-java-options`` in ``PYSPARK_SUBMIT_ARGS`` sets
    ``spark.driver.extraJavaOptions`` after the builder's confs.  For the
    launch only, ``SPARK_CONF_DIR`` names an empty directory in the cache
    (the stock conf dir holds only templates) and ``SPARK_HOME`` names a
    complete overlay.  With no overlay yet, one is built at exit."""
    if _jvm_running():
        yield
        return
    launch, overlay = plan(), overlay_plan()
    env = {}
    if launch is not None:
        builder.config("spark.driver.defaultJavaOptions", launch.java_options)
        env["SPARK_CONF_DIR"] = os.path.join(launch.dir, "conf")
    used = overlay is not None and _use_overlay(overlay)
    if used:
        env["SPARK_HOME"] = overlay.path
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
    if SparkContext._gateway is None:
        return
    if launch is not None and launch.classlist:
        with contextlib.suppress(Py4JError):  # no build, never a failed session
            _record(launch, overlay if used else None)
    if overlay is not None and not used:
        # registered last, so it runs before an archive build
        atexit.register(_build_overlay_at_exit, overlay, os.getpid())


def _record(launch: Launch, overlay: Overlay | None) -> None:
    """Read the live JVM's class path and module flags, and build the
    archive at interpreter exit.  If another setting replaced the
    options, the JVM records nothing and no build runs."""
    jvm = SparkContext._jvm
    args = [str(a) for a in jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()]
    if f"-XX:DumpLoadedClassList={launch.classlist}" not in args:
        return
    rec = Recording(
        launch,
        classpath=_home_classpath(str(jvm.java.lang.System.getProperty("java.class.path")), overlay),
        jvm_flags=[a for a in args if a.startswith("--add-")],
        jvm=SparkContext._gateway.proc,
        pid=os.getpid(),
    )
    atexit.register(_build_at_exit, rec)


def _home_classpath(classpath: str, overlay: Overlay | None) -> str:
    """The class path with the overlay's entries named under the Spark
    home they link to.  The JDK maps an archive whose entries are the same
    files under another path, but a missing entry disables sharing, so an
    archive must not name an overlay that a later key prunes."""
    if overlay is None:
        return classpath
    prefix = overlay.path + os.sep
    return os.pathsep.join(
        os.path.join(overlay.home, e[len(prefix):]) if e.startswith(prefix) else e
        for e in classpath.split(os.pathsep)
    )


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
        try:
            ok = _run_bounded(dump_command(rec, tmp), timeout) == 0 and os.path.getsize(tmp) > 0
        except OSError:  # no archive written
            ok = False
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


def _run_bounded(cmd: list[str], timeout: float) -> int | None:
    """Run ``cmd`` and return its exit status, or None when it ran past
    ``timeout`` and was killed.  It dies with this process."""
    prctl = None
    if sys.platform.startswith("linux"):
        prctl = ctypes.CDLL(None, use_errno=True).prctl
        prctl.argtypes, prctl.restype = [ctypes.c_int, ctypes.c_ulong], ctypes.c_int
    proc = subprocess.Popen(
        cmd,
        stdin=subprocess.DEVNULL,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        preexec_fn=(lambda: prctl(PR_SET_PDEATHSIG, signal.SIGKILL)) if prctl else None,
    )
    try:
        return proc.wait(timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def _prune(d: str, key: str) -> None:
    """Keep only the current key's archive and size record, and the class
    lists of recorders still running; called under the build lock.
    Overlays are pruned by :func:`build_overlay` only, socket directories
    by :func:`socket_dir` only."""
    for name in os.listdir(d):
        parts = name.split(".")
        if name in ("build.lock", "conf") or name.startswith((OVERLAY, SOCKETS)) or (
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


def socket_dir() -> str | None:
    """A new directory in the cache for the Unix domain sockets of the
    driver JVM about to start, removed at interpreter exit; the
    directories of dead processes go first.  None when a JVM runs
    already, or the directory cannot be made, or a socket path in it
    would not fit in ``sun_path``.

    Spark's default, ``java.io.tmpdir``, is no home for it: under
    perfbench's per-run temp dir the socket paths passed the limit, and
    the accumulator server's bind failed ``get_spark``.  It is made by
    ``mkdtemp`` (mode 0700), the sockets' only guard: PySpark sends no
    auth secret over a Unix socket."""
    if _jvm_running():
        return None
    d = _cache_dir()
    try:
        os.makedirs(d, exist_ok=True)
        for name in os.listdir(d):
            pid = name[len(SOCKETS):].split("-")[0] if name.startswith(SOCKETS) else ""
            if pid.isdigit() and not _alive(int(pid)):
                shutil.rmtree(os.path.join(d, name), ignore_errors=True)
        path = tempfile.mkdtemp(prefix=f"{SOCKETS}{os.getpid()}-", dir=d)
    except OSError:
        return None
    if len(os.fsencode(path)) + SOCKET_NAME_LEN > SOCKET_PATH_MAX:
        os.rmdir(path)
        return None
    atexit.register(_remove_socket_dir, path, os.getpid())
    return path


def _remove_socket_dir(path: str, pid: int) -> None:
    if os.getpid() == pid:  # not in a forked child that inherited the hook
        shutil.rmtree(path, ignore_errors=True)


def _python_zips(real: str) -> list[str] | None:
    """``pyspark.zip`` and ``py4j-*-src.zip`` under a Spark home, or None
    when it has no ``pyspark.zip``."""
    lib = os.path.join(real, "python", "lib")
    if not os.path.isfile(os.path.join(lib, "pyspark.zip")):
        return None
    py4j = sorted(n for n in os.listdir(lib) if n.startswith("py4j-") and n.endswith("-src.zip"))
    return [os.path.join(lib, n) for n in ("pyspark.zip", *py4j)]


def _overlay_key(real: str, zips: list[str]) -> str:
    """Hash of the real home, the zips (size, mtime), the listings of the
    directories the overlay re-creates and the bytecode cache tag: any
    change names a new overlay."""
    h = hashlib.sha256(f"{real}\0{sys.implementation.cache_tag}\n".encode())
    for path in zips:
        st = os.stat(path)
        h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    for sub in LAID_OUT:
        h.update("\0".join(sorted(os.listdir(os.path.join(real, sub)))).encode() + b"\n")
    return h.hexdigest()[:16]


def overlay_plan() -> Overlay | None:
    """The overlay for the Spark home a launch would use, or None when
    that home has no ``pyspark.zip`` or the cache is not writable."""
    try:
        home = _find_spark_home()
        real = os.path.realpath(home)
        zips = _python_zips(real)
        if zips is None:
            return None
        d = _cache_dir()
        os.makedirs(d, exist_ok=True)
        if not os.access(d, os.W_OK):
            return None
        return Overlay(d, _overlay_key(real, zips), home, real, zips)
    except OSError:
        return None


def _trees(overlay: Overlay, root: str) -> list[str]:
    """Where the overlay at ``root`` holds each zip's extracted tree."""
    return [os.path.join(root, os.path.relpath(z, overlay.real)) for z in overlay.zips]


def overlay_complete(overlay: Overlay) -> bool:
    """The overlay was published (its marker is written last) and both
    extracted trees are there."""
    return os.path.isfile(os.path.join(overlay.path, OVERLAY_DONE)) and all(
        os.path.isdir(t) for t in _trees(overlay, overlay.path)
    )


def _use_overlay(overlay: Overlay) -> bool:
    """Hold a shared lock on a complete overlay for the rest of this
    process; False when it is absent, partial or being pruned."""
    try:
        fh = open(os.path.join(overlay.path, OVERLAY_DONE))
    except OSError:
        return False
    try:
        fcntl.flock(fh, fcntl.LOCK_SH | fcntl.LOCK_NB)
    except OSError:
        fh.close()
        return False
    if not overlay_complete(overlay):
        fh.close()
        return False
    _IN_USE.append(fh)
    return True


def _build_overlay_at_exit(overlay: Overlay, pid: int) -> None:
    if os.getpid() != pid:  # a forked child inherited the hook
        return
    try:
        build_overlay(overlay)
    except Exception as e:  # noqa: BLE001 — never fail the exit of the program
        print(f"kafquack-spark: Python-library overlay not built: {e}", file=sys.stderr)


def _lay_out(overlay: Overlay, root: str) -> None:
    """Symlink every entry of the real home into ``root``, except the
    directories down to the zips (re-created) and the zips (extracted)."""
    trees = set(_trees(overlay, root))
    for sub in LAID_OUT:
        os.makedirs(os.path.join(root, sub), exist_ok=True)
        for name in os.listdir(os.path.join(overlay.real, sub)):
            rel = os.path.join(sub, name)
            if rel not in LAID_OUT and os.path.join(root, rel) not in trees:
                os.symlink(os.path.join(overlay.real, rel), os.path.join(root, rel))
    for path, tree in zip(overlay.zips, _trees(overlay, root)):
        with zipfile.ZipFile(path) as zf:
            zf.extractall(tree)


def compile_command(trees: list[str]) -> list[str]:
    return [sys.executable, "-m", "compileall", "-q", f"-j{COMPILE_JOBS}", *trees]


def build_overlay(overlay: Overlay, timeout: float = BUILD_TIMEOUT_S) -> bool:
    """Lay out, byte-compile and publish the overlay.  Exactly one process
    builds: the others find the lock taken (or the overlay published) and
    return False.  The tree is laid out in a temp dir and published with
    one rename; a compile past ``timeout`` is killed and nothing is
    published.  ``compileall`` writes the ``.pyc`` files whatever
    ``PYTHONDONTWRITEBYTECODE`` says."""
    with open(os.path.join(overlay.dir, "build.lock"), "a") as lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            return False
        if overlay_complete(overlay):
            return False
        tmp = f"{overlay.path}.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            _lay_out(overlay, tmp)
            # a module that does not compile imports from its source, as
            # it would from the zip: only a timeout stops the publish
            if _run_bounded(compile_command(_trees(overlay, tmp)), timeout) is None:
                return False
            open(os.path.join(tmp, OVERLAY_DONE), "w").close()
            if not _remove_unused(overlay.path):  # a partial overlay still in use
                return False
            os.rename(tmp, overlay.path)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        for name in os.listdir(overlay.dir):
            # other keys' overlays, and the temp dirs of dead builders: a
            # live one would hold the build lock
            if name.startswith(OVERLAY) and name != OVERLAY + overlay.key:
                _remove_unused(os.path.join(overlay.dir, name))
        return True


def _remove_unused(path: str) -> bool:
    """Remove an overlay (its symlinks, never their targets) unless a live
    process launched through it; True when it is gone."""
    if not os.path.lexists(path):
        return True
    try:
        fh = open(os.path.join(path, OVERLAY_DONE))
    except OSError:  # partial or a temp dir: no process uses it
        fh = None
    try:
        if fh is not None:
            fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
        shutil.rmtree(path)
    except OSError:
        return False
    finally:
        if fh is not None:
            fh.close()
    return True
