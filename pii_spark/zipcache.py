"""Stat-gated ``zipimport`` refresh for reused Python workers.

PySpark starts every task with ``worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``. On Python 3.11 and 3.12 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
central directory: a worker that imports pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (1,300+ entries) holds one importer
per package directory it imported from, so each task re-parses the same
directory many times over, whatever the task does. Python 3.13 made the
refresh lazy, so the hook is only installed before 3.13.

The refresh here re-reads an archive only when its ``(st_mtime_ns,
st_size, st_ino)`` changed since the last read, so a rewritten or replaced
archive is still picked up while an unchanged one costs one ``stat``.
The hook patches the class, so it lives as long as the worker process:
reused workers keep it for every later task, of any UDF.
"""

from __future__ import annotations

import os
import sys
import zipimport


def installed() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches, "stat_gated",
                   False)


def install() -> bool:
    """Install the stat-gated refresh once per process. Returns whether
    this call installed it (False when already installed, or on 3.13+)."""
    if sys.version_info >= (3, 13) or installed():
        return False
    reread = zipimport.zipimporter.invalidate_caches
    read_at: dict[str, tuple[int, int, int]] = {}  # archive -> stat at read

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            read_at.pop(self.archive, None)
            reread(self)  # the original handles a vanished archive
            return
        sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == sig:
            self._files = files  # another importer already re-read it
            return
        # stat taken before the read: a rewrite racing the read leaves an
        # older signature behind, so the next refresh reads again
        reread(self)
        read_at[self.archive] = sig

    invalidate_caches.stat_gated = True
    invalidate_caches.__wrapped__ = reread
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
