"""Keep Spark Python workers from re-reading unchanged zip archives.

Every Spark Python worker call (data source creation, read planning, write
commit, and each read, write, ``mapInPandas`` or Arrow-UDF task) starts in
``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. Before CPython 3.12,
``zipimport.zipimporter.invalidate_caches`` re-parses the archive's whole
central directory, and a worker holds one importer per package it imported
from an archive. Spark puts ``pyspark.zip`` (3.5 MB) first on the worker
path, so a reused worker re-read that directory 16 times per call, which cost
0.15-0.37 s on a 4-core machine: the bulk of a small query's fixed cost.

Inside a Spark Python worker on such an interpreter, importing this module
makes an importer re-read its archive only when the archive's
``(st_mtime_ns, st_size, st_ino)`` changed since the last read, and otherwise
reuse ``zipimport._zip_directory_cache``. A rewritten archive is still
re-read, so import semantics are kept. In the driver, and on CPython 3.12+
(which re-reads lazily), nothing changes.
"""

import os
import sys
import threading
import zipimport


def reuse_unchanged_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives whose
    ``(st_mtime_ns, st_size, st_ino)`` did not change since the last read.
    Idempotent."""
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    if getattr(reread, "_skips_unchanged", False):
        return
    stamps = {}
    # keeps each archive's cached directory and stamp a matching pair
    lock = threading.Lock()

    def invalidate_caches(self):
        archive = self.archive
        with lock:
            try:
                st = os.stat(archive)
                stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
            except OSError:
                stamp = None
            files = zipimport._zip_directory_cache.get(archive)
            if stamp is not None and files is not None and stamps.get(archive) == stamp:
                self._files = files
                return
            # stat before reading: a rewrite in between leaves an old
            # stamp, so the next call re-reads rather than missing it
            reread(self)
            stamps[archive] = stamp

    invalidate_caches._skips_unchanged = True
    cls.invalidate_caches = invalidate_caches


def _on_spark_worker() -> bool:
    try:
        from pyspark.core.files import SparkFiles
    except ImportError:
        return False
    return SparkFiles._is_running_on_worker


if sys.version_info < (3, 12) and _on_spark_worker():
    reuse_unchanged_zip_directories()
