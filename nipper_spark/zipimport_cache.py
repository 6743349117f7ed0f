"""Stat-checked ``zipimporter.invalidate_caches`` for reused Python workers.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task. On Python 3.11 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole central
directory in pure Python. The JVM puts Spark's ``pyspark.zip``, the
py4j zip and the spark-core jar on the worker ``sys.path`` ahead of
site-packages, and a worker that imports pyspark from the zip holds one
importer per imported pyspark subpackage (16 in a measured worker), so
a reused worker re-read those archives for 0.15-0.40 s before each task
(measured on a 4-core x86 box, 4 concurrent tasks).

``install()`` replaces the method with one that re-reads an archive
only when its ``os.stat`` (mtime_ns, size, inode) differs from the stat
taken before the last successful read; otherwise the importer takes
that read's directory. A changed, missing or unreadable archive runs
the stock method, so a rewritten archive is still picked up by the next
call. Python 3.12+ only drops the cached directory and reads it lazily
on the next import, so nothing is installed there.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path → (stat key before the read, directory that read returned)
_last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}
_stock = zipimport.zipimporter.invalidate_caches


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    key = _stat_key(self.archive)
    last = _last_read.get(self.archive)
    if key is not None and last is not None and last[0] == key:
        self._files = last[1]
        zipimport._zip_directory_cache[self.archive] = last[1]
        return
    _stock(self)
    if key is not None and self.archive in zipimport._zip_directory_cache:
        _last_read[self.archive] = (key, self._files)
    else:
        _last_read.pop(self.archive, None)


def install() -> None:
    """Install the stat-checked method (idempotent)."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
