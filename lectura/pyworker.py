"""Keep zip-importer directories across PySpark tasks (Python < 3.13).

PySpark's worker calls ``importlib.invalidate_caches()`` before every task
(``setup_spark_files`` in ``pyspark/worker_util.py``). Before Python 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory, eagerly, once per importer. A worker importing pyspark
from ``$SPARK_HOME/python/lib/pyspark.zip`` holds one importer per imported
sub-package path, so each task re-parsed about 27k directory entries
(16 importers over pyspark.zip and the py4j zip), ~0.2 CPU-s, before it
touched a row. Python 3.13 made the stdlib lazy and is left alone.

`install` stamps each directory read with the archive's
``(st_mtime_ns, st_size)`` taken just before the read, and makes
``invalidate_caches`` re-read only when the stamp no longer matches. An
archive that did change is re-read by the first importer that asks; the
other importers of that archive take the fresh directory from
zipimport's own per-archive cache. Importing ``lectura`` installs it, so
every worker that unpickles a lectura function is covered from its next
task on.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stamp of the directory zipimport last read from it; it
# sits beside zipimport._zip_directory_cache, which is process-wide too
_read_at: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Wrap ``zipimport``'s directory read and ``invalidate_caches``;
    idempotent, and a no-op from Python 3.13 on."""
    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_keeps_directory", False):
        return
    read_directory = zipimport._read_directory
    reread = cls.invalidate_caches

    def _read_directory(archive):
        stamp = _stamp(archive)
        files = read_directory(archive)
        _read_at[archive] = stamp
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = _read_at.get(self.archive)
        if files is None or stamp is None or stamp != _stamp(self.archive):
            reread(self)
        else:
            self._files = files

    invalidate_caches._keeps_directory = True
    invalidate_caches.__doc__ = reread.__doc__
    zipimport._read_directory = _read_directory
    cls.invalidate_caches = invalidate_caches
