"""Cheap per-task import-cache invalidation inside Spark Python workers.

Before every task, Spark's Python worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Up to CPython 3.12 that makes
every ``zipimporter`` re-read its archive's whole directory, and a warm worker
holds one per imported subpackage of ``pyspark.zip``: about 0.1 s of CPU per
task, more than a short task's own work. :func:`install` makes a zipimporter
re-read only when its archive's ``(st_mtime_ns, st_size)`` changed since that
importer last read it, so a rewritten or newly shipped ``--py-files`` archive
is still picked up and an unchanged one costs one ``stat``. Importers of one
archive share one re-read directory instead of holding a copy each (~0.7 MB
for pyspark.zip). CPython 3.13 reads lazily by itself (gh-103200).
"""

from __future__ import annotations

import os
import sys
import zipimport


def active() -> bool:
    """Whether :func:`install` has patched this process."""
    return getattr(zipimport.zipimporter.invalidate_caches, "reads_if_changed", False)


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` in a Spark Python worker on
    CPython < 3.13; anywhere else, and on a second call, do nothing.
    Returns :func:`active`."""
    files = sys.modules.get("pyspark.core.files")  # imported by every worker task
    on_worker = files is not None and files.SparkFiles._is_running_on_worker
    if active() or not on_worker or sys.version_info >= (3, 13):
        return active()
    reread = zipimport.zipimporter.invalidate_caches
    read_at: dict = {}  # archive -> stamp of its zipimport._zip_directory_cache entry

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is not None and stamp == self.__dict__.get("_read_stamp"):
            return
        shared = None
        if stamp is not None and read_at.get(self.archive) == stamp:
            # another importer of this archive (pyspark.zip has one per
            # subpackage) re-read it already: share that directory
            shared = zipimport._zip_directory_cache.get(self.archive)
        if shared is None:
            reread(self)
            read_at[self.archive] = stamp
        else:
            self._files = shared
        self._read_stamp = stamp

    invalidate_caches.reads_if_changed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
