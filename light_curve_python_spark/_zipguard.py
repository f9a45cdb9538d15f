"""Stat-guarded ``zipimporter.invalidate_caches`` for Spark Python workers.

pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task.  On CPython
3.10-3.12 ``zipimporter.invalidate_caches`` eagerly re-reads its archive's
whole central directory, once per zipimporter, and a worker holds about 16
of them (``pyspark.zip``, the py4j zip and one per subpackage path inside
them): ~120 ms of CPU per task spent re-reading zips that did not change.
CPython 3.13 made the method lazy.

:func:`install` swaps in a method that re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the stat taken just before
its last read; otherwise the importer takes the directory already in
``zipimport._zip_directory_cache``.  An archive that is missing, or not yet
read under the guard, goes through the stock method, so a worker's first
guarded invalidation reads each archive once and later ones read none.

It installs only where it pays: CPython < 3.13 in a process that has
loaded ``pyspark.worker_util`` (a Spark Python worker; a driver does not
load it).  Installing twice is a no-op.  Stdlib only, so the package root
stays import-light.
"""

import os
import sys
import zipimport

__all__ = ["install", "installed"]

_stock = zipimport.zipimporter.__dict__.get("invalidate_caches")
_read_at = {}  # archive path -> stat key taken before its cached read


def _stat_key(archive):
    st = os.stat(archive)
    return st.st_mtime_ns, st.st_size, st.st_ino


def _guarded_invalidate_caches(self):
    """Reload the archive's file data only if the archive changed."""
    archive = self.archive
    try:
        key = _stat_key(archive)
    except OSError:
        _read_at.pop(archive, None)
        return _stock(self)
    files = zipimport._zip_directory_cache.get(archive)
    if files is not None and _read_at.get(archive) == key:
        self._files = files
        return
    _stock(self)
    if archive in zipimport._zip_directory_cache:
        _read_at[archive] = key
    else:
        _read_at.pop(archive, None)


_guarded_invalidate_caches._stat_guarded = True


def installed() -> bool:
    """True when ``zipimporter.invalidate_caches`` is the guarded method."""
    return getattr(zipimport.zipimporter.invalidate_caches,
                   "_stat_guarded", False)


def install() -> bool:
    """Guard ``zipimporter.invalidate_caches`` if this process is a Spark
    Python worker on a CPython whose method reads eagerly.  Returns
    :func:`installed`."""
    if (_stock is not None and sys.implementation.name == "cpython"
            and sys.version_info < (3, 13)
            and "pyspark.worker_util" in sys.modules and not installed()):
        zipimport.zipimporter.invalidate_caches = _guarded_invalidate_caches
    return installed()
