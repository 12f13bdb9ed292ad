"""Python worker daemon for local sessions built by ``session.get_spark``.

At the start of every task PySpark's worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``). On Python 3.11 that makes every ``zipimporter`` on
the worker's path re-read its archive's whole directory: ``pyspark.zip``
(~1.3k entries) and the spark-core jar (~5.4k entries) among ~17 archives,
on every task: 180–760 ms of fixed cost before any UDF code runs
(Spark 4.1.2, 4-CPU host). This daemon makes the re-read conditional on the
archive's ``(st_mtime_ns, st_size, st_ino)`` having changed since that
importer last read it, then runs the stock ``pyspark.daemon`` manager; the
forked workers inherit the patch.

An importer's first invalidation always re-reads. An archive rewritten or
replaced in place changes its stat and is re-read.
A zip shipped later with ``addPyFile`` is a new path entry, so a new
importer reads it. Other finders' invalidation is untouched.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _archive_stat(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self):
    """Re-read this importer's archive only if its stat has changed since
    the importer last read it (a vanished archive is always re-read, so the
    stock method clears it)."""
    stat = _archive_stat(self.archive)
    if stat is None or stat != getattr(self, "_read_stat", None):
        _reread(self)
        self._read_stat = stat


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()
