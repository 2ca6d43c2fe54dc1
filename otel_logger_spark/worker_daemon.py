"""PySpark worker daemon that skips re-reading unchanged zip archives.

Before every task a reused Python worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes every
``zipimporter`` on the path re-read its archive's whole directory: for
pyspark.zip (~1.3k entries, one importer per imported sub-package) that is
~100-200 ms of Python CPU per task, against ~1 ms for a small UDF batch.

This module is the daemon ``session.get_spark`` names in
``spark.python.daemon.module``. It swaps ``zipimporter.invalidate_caches`` for
a version that re-reads an archive only when its ``(st_mtime_ns, st_size)``
changed since that importer last read it, then runs the stock
``pyspark.daemon.manager()``; the workers it forks inherit the patched class.
An archive rewritten on disk is still re-read, and files shipped by
``addPyFile`` get new paths and so new importers.
"""

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """Re-read the archive directory unless it is unchanged since this
    importer last read it; a failed ``stat`` always re-reads. The ``stat``
    comes first, so a rewrite during the read shows at the next call."""
    try:
        st = os.stat(self.archive)
        seen = (st.st_mtime_ns, st.st_size)
    except OSError:
        seen = None
    if seen is None or getattr(self, "_seen_stat", None) != seen:
        _stock_invalidate(self)
    self._seen_stat = seen


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    daemon.manager()
