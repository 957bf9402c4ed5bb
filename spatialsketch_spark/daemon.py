"""PySpark worker daemon that keeps zip-archive directories cached.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, so that files added with ``addPyFile`` become importable.
Before CPython 3.13, ``zipimport.zipimporter.invalidate_caches`` re-reads
the whole central directory of its archive on each call, and a worker
holds one importer per package directory of ``pyspark.zip``, the
spark-core jar and the py4j zip: 0.13-0.25 s per task (4-core VM) spent
re-reading archives that never change.

Run as the daemon module (``spark.python.daemon.module``, set by
``config.get_spark``), this module makes the re-read conditional on the
archive's ``(st_mtime_ns, st_size)`` having changed since this process
last read it — the rule ``FileFinder`` applies to directories — and then
hands over to ``pyspark.daemon``. Forked workers inherit the patch; the
worker module stays ``pyspark.worker``.
"""

import os
import sys
import zipimport


def _signature(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def patch_zipimport():
    """Replace ``zipimporter.invalidate_caches`` with a version that
    re-reads an archive only when it changed since this process read it.
    Every read from here on is recorded; archives read before the patch
    count as read now."""
    read = zipimport._read_directory
    reread = zipimport.zipimporter.invalidate_caches
    read_at = {p: _signature(p) for p in zipimport._zip_directory_cache}

    def read_directory(archive):
        read_at[archive] = _signature(archive)
        return read(archive)

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        sig = _signature(self.archive)
        if files is None or sig is None or read_at.get(self.archive) != sig:
            reread(self)
        else:
            self._files = files      # another importer may have re-read it

    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 13):      # 3.13 invalidates lazily already
        patch_zipimport()
    from pyspark.daemon import manager
    manager()
