"""PySpark's Python worker daemon, minus the per-task zip re-read.

``session.get_spark`` selects this module with
``spark.python.daemon.module``.  It runs PySpark's own daemon
(``pyspark.daemon.manager``) after one change, made before any worker
forks so that every worker inherits it.

Every Python task starts in ``worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``.  Since Python 3.10 that calls
``zipimporter.invalidate_caches`` on every cached zipimporter, and the
stock method re-reads its archive's whole central directory: one
importer per ``pyspark`` subpackage over ``pyspark.zip`` (1,328
entries), and the spark-core jar on the workers' PYTHONPATH (5,359
entries).  That is 0.1-0.2 CPU-s per task before it reads a row, on
every Python exec node (``mapInPandas``, pandas UDFs, ...).

Here zipimport keys each directory read by the archive's
``(st_mtime_ns, st_size, st_ino)``, and ``invalidate_caches`` re-reads
an archive only when that key has changed, so a zip that ``addPyFile``
ships or rewrites is still re-read.  ``FileFinder`` invalidation is
untouched.

The daemon starts before ``addPyFile`` ships anything, so it must
already be importable by the workers' Python (see ``session``).  If it
is not, ``python -m`` exits and the first Python stage fails; it never
falls back to the stock daemon.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
_stock_read_directory = zipimport._read_directory
# archive path -> stat key of the file when its directory was last read
_read_at: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _read_directory(archive: str) -> dict:
    """zipimport's directory reader, keying each read by the file's stat.

    The key is taken before the read: a rewrite during the read leaves
    a stale key, which only costs one more read later."""
    key = _stat_key(archive)
    _read_at.pop(archive, None)
    files = _stock_read_directory(archive)
    if key is not None:
        _read_at[archive] = key
    return files


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    files = zipimport._zip_directory_cache.get(self.archive)
    key = _read_at.get(self.archive)
    if files is not None and key is not None and key == _stat_key(self.archive):
        self._files = files
        return
    _stock_invalidate_caches(self)


def install() -> None:
    """Patch zipimport in this process (and every process it forks)."""
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    install()
    from pyspark import daemon

    # key any archive read before install(), so forked workers start
    # with nothing to re-read
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run through the package's module, not this ``__main__`` copy, so
    # the hook a worker sees is ``neuroner_spark.worker_daemon``'s
    from neuroner_spark.worker_daemon import main as _main

    _main()
