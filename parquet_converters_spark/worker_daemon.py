"""Spark's Python worker daemon, with lazy zip-directory invalidation.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on CPython 3.11
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory: ~0.2 s per task for ``pyspark.zip`` and the Spark jar on the
workers' path.  Here it re-reads only an archive that is new, missing or
changed (``st_mtime_ns``, ``st_size``) since this process last read it, as
later CPython releases do.  ``get_spark`` sets
``spark.python.daemon.module`` to this module, so every forked worker
inherits the patch.  Stdlib only at import: the daemon starts cheaply.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_stat = {}  # archive -> (st_mtime_ns, st_size) when this process last read it


def _invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stat = (st.st_mtime_ns, st.st_size)
    except OSError:
        stat = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stat is None or files is None or _read_stat.get(self.archive) != stat:
        _reread(self)
        _read_stat[self.archive] = stat
    else:
        self._files = files


if __name__ == "__main__":
    import importlib

    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    from pyspark.daemon import manager

    importlib.invalidate_caches()  # one read per archive, inherited by every worker
    manager()
