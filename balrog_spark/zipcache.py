"""Keyed zip-directory cache: stops every Python task re-reading
pyspark.zip.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On Python 3.11
every ``zipimporter`` in ``sys.path_importer_cache`` answers that by
re-reading its archive's central directory. A worker holds 16 of them,
12 over ``pyspark.zip`` (1,328 entries): 0.2 s of CPU per task before
the UDF starts. ``install()`` makes ``zipimporter.invalidate_caches``
re-read an archive only when its (st_mtime_ns, st_size) differs from the
key taken at the last read of it, so a zip that is added
(``sc.addPyFile``) or rewritten in place is still read afresh. Every
other finder, and importlib's own invalidation, is untouched.

The package installs it on import (``balrog_spark/__init__.py``). A
worker imports the package with the first engine UDF it unpickles, so
every later task of that reused worker runs with it, whatever the
deployment (local, ``--py-files`` zip, cluster).
"""

from __future__ import annotations

import os
import zipimport


def _archive_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Key ``zipimporter.invalidate_caches`` on the archive's stat."""
    reread = zipimport.zipimporter.invalidate_caches
    # archive path -> (its (st_mtime_ns, st_size) key, the directory read
    # at that key)
    last_read = {}

    def invalidate_caches(self):
        # the key is taken BEFORE the read: a write racing the read
        # leaves a stale key, which only forces one more read later
        key = _archive_key(self.archive)
        last = last_read.get(self.archive)
        if key is not None and last is not None and last[0] == key:
            self._files = last[1]
            zipimport._zip_directory_cache[self.archive] = last[1]
            return
        reread(self)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None:
            last_read[self.archive] = key, files

    zipimport.zipimporter.invalidate_caches = invalidate_caches
