"""PySpark's worker daemon, with import archives re-read only when they change.

PySpark calls ``importlib.invalidate_caches()`` before every task. Before
Python 3.13, ``zipimporter.invalidate_caches`` re-reads the archive's whole
central directory each time, changed or not: a worker holds a dozen
importers over ``pyspark.zip``, the spark-core jar and py4j, so every task
parsed ~27k directory entries (~0.16 s) before doing any work. Run as the
daemon, this module re-reads an archive only when its ``os.stat`` key
changed or the shared directory cache lacks it; otherwise the importer is
pointed at the cached directory. Workers are forked from the daemon, so
each one keeps the patch. ``session.get_spark`` selects it with
``spark.python.daemon.module``.
"""

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_keys = {}  # archive path -> its stat key when it was last read


def invalidate_caches(self):
    """``zipimporter.invalidate_caches``, re-reading only a changed archive."""
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        key = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is None or files is None or _keys.get(self.archive) != key:
        _reread(self)  # stat first: a change during the read shows next time
        _keys[self.archive] = key
    else:
        self._files = files


if __name__ == "__main__":
    if sys.version_info < (3, 13):  # 3.13 only drops the cached directory
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()
