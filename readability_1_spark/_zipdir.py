"""Stat-gated ``zipimporter.invalidate_caches`` for Python < 3.13.

A pyspark Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``worker_util.setup_spark_files``).  Before Python 3.13,
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory, so every task re-parses ``pyspark.zip`` once per zipimporter on
it — most of a reused worker's fixed per-task cost.  Python 3.13 made the
method lazy.  `install` gives older interpreters the same cost: a directory
is re-read only when the archive's (inode, size, mtime_ns) differ from the
stat taken just before its last read.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_ino, st_size, st_mtime_ns) taken before its last read
_stamps: dict[str, tuple[int, int, int]] = {}


def _stat(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install() -> None:
    """Patch `zipimport` once per process; a no-op on Python >= 3.13."""
    if sys.version_info >= (3, 13):
        return
    if zipimport.zipimporter.invalidate_caches.__module__ == __name__:
        return
    read_directory = zipimport._read_directory
    reread = zipimport.zipimporter.invalidate_caches

    def _read_directory(archive):
        # Stat first: a rewrite racing the read leaves a stale stamp, which
        # only costs one extra re-read later.
        stamp = _stat(archive)
        files = read_directory(archive)
        if stamp is not None:
            _stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        """Reload the archive's file data if the archive changed on disk."""
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = _stat(self.archive)
        if files is not None and stamp is not None and _stamps.get(self.archive) == stamp:
            self._files = files
        else:
            reread(self)

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
