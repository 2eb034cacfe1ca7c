"""Start-up artefacts: what ``get_spark`` caches per host to start faster.

Both live in ``$XDG_CACHE_HOME/kafquack-spark`` (else
``~/.cache/kafquack-spark``) with one life cycle (:class:`Artefact`): a
key, a build at interpreter exit under a non-blocking lock and a
timeout, a publish by rename, a prune of its own stale entries and a cap
on failed builds.  :func:`driver_archive` wraps the launch with them:

* :class:`Archive`, the JDK's AppCDS archive of the classes the driver
  JVM loads, mapped parsed and verified instead of read from jars
  (traced perfbench ``topic_ingest``, 4-core VM: ``get_spark`` 5.3-6.4 →
  3.2-3.3 s, ``load_tables`` 3.1 → 1.3-1.4 s).  Class metadata only.
* :class:`Overlay`, a Spark home whose ``python/lib/pyspark.zip`` and
  ``py4j-*-src.zip`` are directories of byte-compiled trees.  Spark puts
  those two paths of the JVM's ``SPARK_HOME`` first on every Python
  process's path, and the zips hold no ``.pyc`` files (importing the
  stream runner: 0.80-0.83 s from the zip, 0.18-0.21 s compiled).

A launch uses only a complete artefact; anything unusual (a user conf
dir, an unwritable cache, a running JVM) leaves it as it was.  The cache
also holds each process's Unix domain socket directory (:func:`socket_dir`).
"""

from __future__ import annotations

import atexit
import contextlib
import ctypes
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import zipfile
from dataclasses import dataclass, field

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

# The exit-time dump took 30-45 s for 13.6-17.4k classes on a 4-core VM.
# The whole exit hook (JVM wait, overlay compile, archive dump) gets 60 s,
# which keeps a perfbench build run (~55 s worker + builds) well inside its
# 150 s worker limit; a build still running at the deadline is killed.
BUILD_TIMEOUT_S = 60
# After this many failed builds under one key no process tries again, so
# a host that cannot build pays for it only a few times.
MAX_FAILED_BUILDS = 3
# How long the exit hook waits for the driver JVM to exit and flush its class list.
JVM_EXIT_WAIT_S = 15
OVERLAY = "spark-home-"
# Written last into a laid-out overlay.  Each process that launches
# through an overlay holds a shared lock on it until it exits, so no
# prune removes an overlay whose JVM and Python workers still run.
OVERLAY_DONE = ".kafquack-overlay"
# The directories an overlay re-creates, down to the zips; the rest are symlinks.
LAID_OUT = ("", "python", os.path.join("python", "lib"))
# compileall's worker processes (~1.7 s for pyspark.zip on a 4-core VM)
COMPILE_JOBS = 4
# A process's socket directory is SOCKETS + "<pid>-<random>".
SOCKETS = "uds-"
# Spark names each socket ``<dir>/.<uuid4>.sock``: 43 bytes after the dir.
SOCKET_NAME_LEN = 43
# sun_path holds 108 bytes with its terminating NUL.
SOCKET_PATH_MAX = 107
# Spark 4.1 rejects a longer spark.python.unix.domain.socket.dir ("should
# be lower than 61"), and only when the first Python job runs.
SPARK_SOCKET_DIR_MAX = 60
# The pid in the name of a class list (<key>.<pid>.classlist) or of a
# socket directory: that process holds the entry while it runs.
_HOLDER = re.compile(r"^(?:uds-|[0-9a-f]{16}\.)(\d+)[.-]")

# Shared locks on the overlays this process launched through, held until it exits.
_IN_USE: list = []


@dataclass
class Artefact:
    """One start-up artefact of the cache directory ``dir`` under ``key``.
    A subclass names its entries (``names``; the first is ``path``), tells
    its own cache entries (``owns``) and a whole entry (``complete``), and
    builds one at a temporary path (``build``)."""

    dir: str
    key: str

    @property
    def path(self) -> str:
        return os.path.join(self.dir, self.names[0])

    def failed_builds(self) -> int:
        try:
            with open(os.path.join(self.dir, f"{self.key}.failed")) as fh:
                return int(fh.read() or 0)
        except (OSError, ValueError):
            return 0

    def publish(self, timeout: float = BUILD_TIMEOUT_S) -> bool:
        """Build into ``<path>.<pid>.tmp``, rename that to ``path`` and prune.
        Exactly one process builds: the others find the lock taken, the
        artefact published or its failed builds (``<key>.failed``) at the
        cap, and return False.  A build past ``timeout`` is killed."""
        with open(os.path.join(self.dir, "build.lock"), "a") as lock:
            try:
                fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                return False
            if self.complete() or self.failed_builds() >= MAX_FAILED_BUILDS:
                return False
            tmp = f"{self.path}.{os.getpid()}.tmp"
            built = published = False
            try:
                _remove_unused(tmp)
                built = self.build(tmp, timeout)
                # a partial overlay still in use stays: nothing is published
                published = built and _remove_unused(self.path)
                if published:
                    os.rename(tmp, self.path)
            finally:
                _remove_unused(tmp)
                if not built:
                    count = self.failed_builds() + 1
                    with open(os.path.join(self.dir, f"{self.key}.failed"), "w") as fh:
                        fh.write(str(count))
            if published:
                self.prune()
            return published

    def prune(self) -> None:
        """Remove other keys' entries and dead builders' temp ones (under the lock)."""
        for name in os.listdir(self.dir):
            if self.owns(name) and name not in self.names:
                _remove_unused(os.path.join(self.dir, name))

    def at_exit(self, deadline: float) -> None:
        """Publish with the time left before ``deadline`` (``time.monotonic``)."""
        left = deadline - time.monotonic()
        if left > 0:
            self.publish(left)


@dataclass
class Archive(Artefact):
    """The class-data-sharing archive ``<key>.jsa`` and its size record
    ``<key>.json``.  A launch without one records its classes in
    ``classlist``, and :func:`driver_archive` reads the live JVM's class
    path and ``--add-*`` flags for the dump (``java -Xshare:dump``)."""

    java: str = ""
    classlist: str | None = None
    classpath: str = ""
    jvm_flags: list[str] = field(default_factory=list)
    jvm: subprocess.Popen | None = None  # the driver JVM, stopped before the dump

    @property
    def names(self) -> tuple[str, str]:
        return f"{self.key}.jsa", f"{self.key}.json"

    @property
    def java_options(self) -> str:
        if self.classlist:
            return f"-XX:DumpLoadedClassList={self.classlist}"
        # VerifySharedSpaces checksums the archive (0.10-0.16 s per start):
        # without it a bit-flipped archive is mapped as is.
        return f"-XX:SharedArchiveFile={self.path} -Xshare:auto -XX:+VerifySharedSpaces"

    def complete(self) -> bool:
        """The archive has the size recorded when it was published: the JDK
        aborts on a truncated archive (SIGBUS) even under ``-Xshare:auto``,
        so a short file must never reach it."""
        try:
            with open(os.path.join(self.dir, self.names[1])) as fh:
                return os.path.getsize(self.path) == json.load(fh)["size"]
        except (OSError, ValueError, KeyError, TypeError):
            return False

    def build(self, tmp: str, timeout: float) -> bool:
        _complete_lines(self.classlist)
        if _run_bounded(dump_command(self, tmp), timeout) != 0 or os.path.getsize(tmp) == 0:
            return False
        meta = os.path.join(self.dir, self.names[1])
        with open(meta + ".tmp", "w") as fh:
            json.dump({"size": os.path.getsize(tmp)}, fh)
        os.replace(meta + ".tmp", meta)
        return True

    def owns(self, name: str) -> bool:
        """Every entry the overlay and the socket dirs do not name: an
        archive publish also clears the overlay's failure count."""
        return name not in ("build.lock", "conf") and not name.startswith((OVERLAY, SOCKETS))

    def at_exit(self, deadline: float) -> None:
        try:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()  # before its JVM goes
            if self.jvm is not None and self.jvm.stdin is not None:
                # the JVM exits on stdin EOF and flushes its class list
                self.jvm.stdin.close()
                with contextlib.suppress(subprocess.TimeoutExpired):
                    self.jvm.wait(max(0, min(JVM_EXIT_WAIT_S, deadline - time.monotonic())))
            super().at_exit(deadline)
        finally:
            with contextlib.suppress(OSError):
                os.remove(self.classlist)


@dataclass
class Overlay(Artefact):
    """The Python-library overlay ``spark-home-<key>/`` of the Spark home
    ``home`` (realpath ``real``; ``zips``: pyspark.zip, then py4j's)."""

    home: str = ""
    real: str = ""
    zips: list[str] = field(default_factory=list)

    @property
    def names(self) -> tuple[str]:
        return (OVERLAY + self.key,)

    def trees(self, root: str) -> list[str]:
        """Where the overlay at ``root`` holds each zip's extracted tree."""
        return [os.path.join(root, os.path.relpath(z, self.real)) for z in self.zips]

    def complete(self) -> bool:
        """Its marker (written last) and both extracted trees are there."""
        return os.path.isfile(os.path.join(self.path, OVERLAY_DONE)) and all(
            os.path.isdir(t) for t in self.trees(self.path)
        )

    def build(self, tmp: str, timeout: float) -> bool:
        """Symlink the real home's entries into ``tmp``, except the directories
        down to the zips (re-created) and the zips (extracted), then compile
        the trees (``compileall`` ignores ``PYTHONDONTWRITEBYTECODE``)."""
        trees = self.trees(tmp)
        for sub in LAID_OUT:
            os.makedirs(os.path.join(tmp, sub), exist_ok=True)
            for name in os.listdir(os.path.join(self.real, sub)):
                rel = os.path.join(sub, name)
                if rel not in LAID_OUT and os.path.join(tmp, rel) not in trees:
                    os.symlink(os.path.join(self.real, rel), os.path.join(tmp, rel))
        for path, tree in zip(self.zips, trees):
            with zipfile.ZipFile(path) as zf:
                zf.extractall(tree)
        # a module that does not compile imports from its source, as it
        # would from the zip: only a timeout fails the build
        if _run_bounded(compile_command(trees), timeout) is None:
            return False
        open(os.path.join(tmp, OVERLAY_DONE), "w").close()
        return True

    def owns(self, name: str) -> bool:
        return name.startswith(OVERLAY)

    def use(self) -> bool:
        """Hold a shared lock on the complete overlay for the rest of this
        process; False when it is absent, partial or being pruned."""
        try:
            with contextlib.ExitStack() as stack:
                marker = stack.enter_context(open(os.path.join(self.path, OVERLAY_DONE)))
                fcntl.flock(marker, fcntl.LOCK_SH | fcntl.LOCK_NB)
                if self.complete():
                    _IN_USE.append(stack.pop_all())
                    return True
        except OSError:
            pass
        return False


def _remove_unused(path: str) -> bool:
    """Remove a cache entry (a directory's symlinks, never their targets)
    unless a live process holds it: the pid in its name runs, or one holds
    a shared lock on its overlay marker.  True when it is gone."""
    pid = _HOLDER.match(os.path.basename(path))
    if pid is not None:
        try:
            os.kill(int(pid[1]), 0)
            return False
        except ProcessLookupError:
            pass
        except OSError:  # another user's process
            return False
    marker = os.path.join(path, OVERLAY_DONE)
    try:
        with open(marker) if os.path.isfile(marker) else contextlib.nullcontext() as fh:
            if fh is not None:
                fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)
    except FileNotFoundError:
        return True
    except OSError:
        return False
    return True


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "kafquack-spark")


def _java() -> str | None:
    """The java ``spark-class`` runs: ``$JAVA_HOME/bin/java``, else ``PATH``'s."""
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


def plan() -> Archive | None:
    """The archive a driver JVM about to start maps or records classes for."""
    java = _java()
    if java is None:
        return None
    try:
        spark_home = _find_spark_home()
        # Spark puts the conf dir on the classpath, where the JDK archives no
        # non-empty directory; a stock one holds only *.template files
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        with contextlib.suppress(FileNotFoundError):
            if not all(name.endswith(".template") for name in os.listdir(conf_dir)):
                return None
        d = _cache_dir()
        if any(c.isspace() or c in "\"'\\" for c in d):  # not passable in a java option string
            return None
        os.makedirs(os.path.join(d, "conf"), exist_ok=True)
        if not os.access(d, os.W_OK) or os.listdir(os.path.join(d, "conf")):
            return None
        archive = Archive(d, _archive_key(java, spark_home), java)
    except OSError:
        return None
    if not archive.complete():
        if archive.failed_builds() >= MAX_FAILED_BUILDS:
            return None
        archive.classlist = os.path.join(d, f"{archive.key}.{os.getpid()}.classlist")
    return archive


def _jvm_running() -> bool:
    """This process has a driver JVM (its own or ``spark-submit``'s)."""
    return SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ


@contextlib.contextmanager
def driver_archive(builder):
    """Around ``builder.getOrCreate()``: a driver JVM it starts maps the
    archive or records its classes for one, and runs from the overlay;
    what the launch found missing is built at interpreter exit.  The
    options go in ``spark.driver.defaultJavaOptions`` (``PYSPARK_SUBMIT_ARGS``
    may set the extra ones).  For the launch only, ``SPARK_CONF_DIR`` names
    the cache's empty ``conf/`` and ``SPARK_HOME`` a complete overlay."""
    if _jvm_running():
        yield
        return
    archive, overlay = plan(), overlay_plan()
    env = {}
    if archive is not None:
        builder.config("spark.driver.defaultJavaOptions", archive.java_options)
        env["SPARK_CONF_DIR"] = os.path.join(archive.dir, "conf")
    used = overlay is not None and overlay.use()
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
    # the overlay first (~2 s, while the JVM runs), then the archive,
    # whose build stops the JVM
    pending = [overlay] if overlay is not None and not used else []
    if archive is not None and archive.classlist:
        with contextlib.suppress(Py4JError):  # no build, never a failed session
            jvm = SparkContext._jvm
            runtime = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
            args = [str(a) for a in runtime.getInputArguments()]
            # another setting may have replaced the options: nothing recorded
            if archive.java_options in args:
                classpath = str(jvm.java.lang.System.getProperty("java.class.path"))
                archive.classpath = _home_classpath(classpath, overlay if used else None)
                archive.jvm_flags = [a for a in args if a.startswith("--add-")]
                archive.jvm = SparkContext._gateway.proc
                pending.append(archive)
    if pending:
        atexit.register(_build_at_exit, pending, os.getpid())


def _home_classpath(classpath: str, overlay: Overlay | None) -> str:
    """The class path with the overlay's entries named under the Spark home
    they link to.  The JDK maps an archive dumped from the same files under
    another path, but an archive naming a pruned overlay would not share."""
    if overlay is None:
        return classpath
    prefix = overlay.path + os.sep
    return os.pathsep.join(
        os.path.join(overlay.home, e[len(prefix):]) if e.startswith(prefix) else e
        for e in classpath.split(os.pathsep)
    )


def _build_at_exit(pending: list[Artefact], pid: int) -> None:
    if os.getpid() != pid:  # a forked child inherited the hook
        return
    # one budget for the whole hook: what one build uses, the next loses
    deadline = time.monotonic() + BUILD_TIMEOUT_S
    for artefact in pending:
        try:
            artefact.at_exit(deadline)
        except Exception as e:  # noqa: BLE001 — never fail the exit of the program
            print(f"kafquack-spark: {artefact.path} not built: {e}", file=sys.stderr)


def _complete_lines(path: str) -> None:
    """Cut a class list a JVM left unfinished to its last complete line."""
    with open(path, "rb+") as fh:
        fh.truncate(fh.read().rfind(b"\n") + 1)


def dump_command(archive: Archive, out: str) -> list[str]:
    files = [f"-XX:SharedClassListFile={archive.classlist}", f"-XX:SharedArchiveFile={out}"]
    return [archive.java, "-Xshare:dump", *files, "-cp", archive.classpath, *archive.jvm_flags]


def compile_command(trees: list[str]) -> list[str]:
    return [sys.executable, "-m", "compileall", "-q", f"-j{COMPILE_JOBS}", *trees]


def _run_bounded(cmd: list[str], timeout: float) -> int | None:
    """Run ``cmd`` and return its exit status, or None when it ran past
    ``timeout`` and was killed.  It dies with this process."""
    prctl = None
    if sys.platform.startswith("linux"):
        prctl = ctypes.CDLL(None, use_errno=True).prctl
        prctl.argtypes, prctl.restype = [ctypes.c_int, ctypes.c_ulong], ctypes.c_int
    die = (lambda: prctl(1, signal.SIGKILL)) if prctl else None  # PR_SET_PDEATHSIG
    null = subprocess.DEVNULL
    try:
        done = subprocess.run(cmd, stdin=null, stdout=null, stderr=null, timeout=timeout, preexec_fn=die)
    except subprocess.TimeoutExpired:
        return None
    return done.returncode


def socket_dir() -> str | None:
    """A new 0700 directory (``mkdtemp``) in the cache for the Unix domain
    sockets of the driver JVM about to start, removed at interpreter exit;
    dead processes' ones go first.  None when a JVM runs already, or the
    directory cannot be made, or it is longer than Spark accepts, or a
    socket path in it would not fit in ``sun_path``.  The mode is the
    sockets' only guard: PySpark sends no auth secret over a Unix socket."""
    if _jvm_running():
        return None
    d = _cache_dir()
    try:
        os.makedirs(d, exist_ok=True)
        for name in os.listdir(d):
            if name.startswith(SOCKETS):
                _remove_unused(os.path.join(d, name))
        path = tempfile.mkdtemp(prefix=f"{SOCKETS}{os.getpid()}-", dir=d)
    except OSError:
        return None
    if len(os.fsencode(path)) + SOCKET_NAME_LEN > SOCKET_PATH_MAX or len(path) > SPARK_SOCKET_DIR_MAX:
        os.rmdir(path)
        return None
    atexit.register(_remove_socket_dir, path, os.getpid())
    return path


def _remove_socket_dir(path: str, pid: int) -> None:
    if os.getpid() == pid:  # not in a forked child that inherited the hook
        shutil.rmtree(path, ignore_errors=True)


def _python_zips(real: str) -> list[str] | None:
    """``pyspark.zip``, then ``py4j-*-src.zip`` of a Spark home; None without the first."""
    lib = os.path.join(real, "python", "lib")
    if not os.path.isfile(os.path.join(lib, "pyspark.zip")):
        return None
    py4j = sorted(n for n in os.listdir(lib) if n.startswith("py4j-") and n.endswith("-src.zip"))
    return [os.path.join(lib, n) for n in ("pyspark.zip", *py4j)]


def _overlay_key(real: str, zips: list[str]) -> str:
    """Hash of the real home, the zips (size, mtime), the listings of the
    directories the overlay re-creates and the bytecode cache tag."""
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
