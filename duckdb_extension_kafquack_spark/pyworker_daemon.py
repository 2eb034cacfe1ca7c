"""PySpark worker daemon for this engine's Python-worker tasks.

Every Python-worker task runs ``pyspark.worker_util.setup_spark_files``,
which calls :func:`importlib.invalidate_caches`.  On CPython < 3.13 that
makes every cached :class:`zipimport.zipimporter` re-read its archive's
whole central directory.  Spark puts two kinds of archive on the
worker's path: ``pyspark.zip`` (3.5 MB, one importer per imported
pyspark subpackage; ~260 ms per task before the task's own code starts,
4-core VM, CPython 3.11, Spark 4.1) and the ``spark-core`` jar.  A
``get_spark`` launch through the byte-compiled overlay (``cds``) imports
pyspark from directories, so there the patch serves the jar, which
every import not found earlier on the path searches (launch-to-UDF
p50 ~98 ms with the stock daemon against 16-20 ms with this one,
``tools/pyworker_floor.py``); it serves ``pyspark.zip`` again whenever
the launch falls back to the real Spark home.  CPython 3.13 no longer
re-reads archives eagerly.  The same tool, over the session's Unix
domain sockets: launch-to-UDF p50 19-20 ms (15-17 ms over loopback
TCP), then 1.1-1.4 ms until the UDF has drained its one-row input
(42.4-42.9 ms over TCP, the delayed-ACK stall; 3 runs each).

This module patches ``zipimporter.invalidate_caches`` to re-read an
archive only when its ``os.stat`` (mtime_ns, size, inode) changed since
this process last read it, then runs :func:`pyspark.daemon.manager`, so
every worker the daemon forks inherits the patch.  ``session.get_spark``
selects it with the static ``spark.python.daemon.module`` conf.  It must
stay light to import (the package root only; no operators), and the
package must be importable by the executors' Python when the daemon
starts — before any task ships ``--py-files``.

Run by Spark as ``python -m duckdb_extension_kafquack_spark.pyworker_daemon``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STOCK_INVALIDATE = zipimport.zipimporter.invalidate_caches
# archive path -> ((mtime_ns, size, inode), directory) as last read here
_READ: dict[str, tuple[tuple[int, int, int], dict]] = {}


def invalidate_caches(self) -> None:
    """Stock ``zipimporter.invalidate_caches``, skipped while the archive
    is unchanged since this process last read its directory."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    seen = _READ.get(self.archive)
    if seen is not None and seen[0] == stamp:
        self._files = seen[1]
        zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    # stat BEFORE the read: a rewrite racing the read leaves a stale
    # stamp, which only costs one extra read next time
    _STOCK_INVALIDATE(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _READ[self.archive] = (stamp, self._files)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` on CPython < 3.13."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    import importlib

    from pyspark.daemon import manager

    install()
    # read each archive once here, so forked workers start with stamps
    importlib.invalidate_caches()
    manager()


if __name__ == "__main__":
    # run the importable module's copy, not this __main__ one, so workers
    # can identify the patched function by its module name
    from duckdb_extension_kafquack_spark import pyworker_daemon

    pyworker_daemon.main()
