"""Skip re-reading an unchanged zip archive's directory in PySpark workers.

Every PySpark Python worker call (planner calls such as
``create_data_source`` and ``data_source_pushdown_filters``, and every
executor task) runs ``worker_util.setup_spark_files``, which ends with
``importlib.invalidate_caches()``. On Python 3.11 that makes every
``zipimporter`` re-parse its archive's whole central directory. A worker
holds 15-17 zipimporters over ``pyspark.zip`` (1328 entries, first on the
worker path), so each call spent ~125 ms of CPU re-reading a file that
had not changed: the largest fixed cost of a remote scan or insert,
which make 3 such calls each (docs/SCALE.md, "Python worker fixed cost").

:func:`install` replaces ``zipimporter.invalidate_caches`` with a
wrapper that calls the stock method only when the archive's stat stamp
(inode, size, mtime, ctime) differs from the one taken before its last
re-read; an archive rewritten in place or replaced by rename is still
re-read. Like the (mtime, size) check behind Python's ``.pyc`` caches,
it cannot see a rewrite that keeps the inode and size within one
filesystem timestamp tick.
``FileFinder`` invalidation (``addPyFile``/``SparkFiles`` visibility) is
untouched.

It is installed only in processes the JVM launched as Python workers
(they carry ``PYTHON_WORKER_FACTORY_SECRET``), when the package is
imported there; the driver process keeps the stock method.
"""

from __future__ import annotations

import os
import zipimport

WORKER_ENV = "PYTHON_WORKER_FACTORY_SECRET"

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int, int] | None] = {}  # archive -> stamp before its last re-read


def _stamp(path: str) -> tuple[int, int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def _invalidate_if_changed(self) -> None:
    stamp = _stamp(self.archive)
    if stamp is not None and _stamps.get(self.archive) == stamp:
        # unchanged since the last re-read; another importer over the same
        # archive may have done that re-read, so adopt the shared directory
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None:
            self._files = files
            return
    _stock_invalidate(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` (idempotent)."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def installed() -> bool:
    """Whether this process runs the wrapper."""
    return zipimport.zipimporter.invalidate_caches is _invalidate_if_changed


def install_in_worker() -> None:
    """:func:`install` when this process is a PySpark Python worker."""
    if WORKER_ENV in os.environ:
        install()
