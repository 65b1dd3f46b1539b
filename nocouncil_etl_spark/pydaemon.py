"""PySpark worker daemon that re-reads a zip archive only when it changed.

Every Python task runs ``importlib.invalidate_caches()`` (pyspark's
``worker_util.setup_spark_files``). On Python 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's central
directory; with pyspark imported from ``$SPARK_HOME/python/lib/pyspark.zip``
that is 16 importers re-reading 1,328 entries each, 90–180 ms before each
task's UDF body starts on a 4-vCPU VM, even on a reused worker (SCALE.md,
"Per-Python-task fixed cost"). Run as the daemon module
(``spark.python.daemon.module``, set by ``session.get_session``), this
re-reads an archive only when the importer has not yet read it at the
archive's current ``(st_mtime_ns, st_size)``; a missing archive takes the
stock path. The rest of ``invalidate_caches`` (path finders, py-files added
with ``addPyFile``) runs unchanged.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stock_invalidate(self)
    # stat before the read: an archive rewritten during the read is re-read next time
    stamp = (st.st_mtime_ns, st.st_size)
    if getattr(self, "_read_stamp", None) != stamp:
        _stock_invalidate(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()  # stamp the daemon's importers; forked workers inherit them
    manager()
