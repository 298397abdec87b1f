"""Python-worker daemon for local sessions: ``pyspark.daemon`` without the
per-task zip rescans.

Every Arrow/pandas task runs ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. Before CPython 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory, and a worker holds one zipimporter per package it
imported from ``pyspark.zip``, the py4j zip and the Spark jars: sixteen
directory reads per task, ~0.65 s of a warm worker's 0.77 s task
(CPython 3.11, 4-vCPU VM).
CPython 3.13 only drops the cache entry.

:func:`invalidate_caches` keeps the stdlib contract (a rewritten archive
is re-read) but re-reads only when the archive's ``(st_mtime_ns,
st_size)`` changed since the last read. ``session.get_spark`` points
``spark.python.daemon.module`` here; forked workers inherit the patch.
Nothing else is imported up front, so the daemon stays as small as the
stock one.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_read_directory = zipimport._read_directory
_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (stamp taken before the read, the directory it read)
_read_at: dict[str, tuple[tuple[int, int] | None, dict]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read_directory(archive: str) -> dict:
    """``zipimport._read_directory`` that records what it read, and when."""
    stamp = _stamp(archive)  # before the read: a later rewrite changes it
    files = _stock_read_directory(archive)
    _read_at[archive] = (stamp, files)
    return files


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    stamp, files = _read_at.get(self.archive, (None, None))
    cached = zipimport._zip_directory_cache.get(self.archive)
    if files is cached and stamp == _stamp(self.archive) is not None:
        self._files = cached
        return
    _stock_invalidate_caches(self)


def install() -> None:
    if sys.version_info < (3, 13):
        zipimport._read_directory = _read_directory
        zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
