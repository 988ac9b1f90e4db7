"""Python worker daemon of this engine's Spark sessions
(``spark.python.daemon.module``, set by ``session.get_spark``).

Every Python worker task starts with PySpark's
``worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``. Before Python 3.13,
``zipimporter.invalidate_caches`` re-reads the whole archive directory,
and a worker holds 14-16 importers over ``pyspark.zip`` (1,328 entries),
so each task parsed that directory 16 times before its UDF ran (95-205
ms per task in the upsert stream's workers on a 4-vCPU host). Here an
importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size, st_ino)`` changed since this process last read
it, the rule ``FileFinder`` applies to directories; otherwise it takes
the directory already in ``zipimport._zip_directory_cache``. Python
3.13's importer only drops the cached directory, so there the module
changes nothing.

The daemon forks every worker: import nothing heavy here (no pandas,
pyarrow or package operators).
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_read_stamps: dict[str, tuple[int, int, int] | None] = {}


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate(self)  # stat first: a rewrite during the read shows next time
    _read_stamps[self.archive] = stamp


if sys.version_info < (3, 13) and __name__ != "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    import importlib

    # install the rule under this module's own name, then read each
    # archive once here so forked workers start with its stamp
    importlib.import_module(__spec__.name)
    from pyspark.daemon import manager

    importlib.invalidate_caches()
    manager()
