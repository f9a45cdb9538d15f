"""Python daemon launcher that loads pyspark from a compiled copy and keeps
full garbage collections off the reused workers' task path.

``session.get_spark`` (local masters only) copies this file to
``<cache>/bin/lcps_cached_daemon.py`` next to ``<cache>/lib``, an extracted
and byte-compiled copy of the ``pyspark.zip`` the JVM puts on the workers'
``PYTHONPATH``, and names it as ``spark.python.daemon.module``.  Run as the
daemon, it checks the cache against the ``pyspark.zip`` on its own
``sys.path`` (:func:`zip_key`) and, when the cache is complete and the key
matches, puts ``<cache>/lib`` at ``sys.path[0]``.  Otherwise ``sys.path``
stays as it is.  Either way it then runs ``pyspark.daemon``.

A reused worker of the stock daemon calls a full ``gc.collect()`` after
every task, and the next task's data cannot flow until it returns: over
the ~74k objects a worker tracks once numpy, pyarrow, pandas and the
engine are loaded that is 34 ms at the median and 68 ms at p90 on a
4-core host, most of a Python task's fixed cost.  So the launcher imports
``pyspark.daemon``, rebinds its module global ``gc`` to :data:`YOUNG_GC`,
whose ``collect()`` collects generations 0 and 1 only (a reference cycle
a task leaves behind is still freed before the next task), and calls its
``manager()``.  Every other attribute is the real ``gc`` module's, and
CPython's own thresholds still run full collections, so garbage in the
oldest generation is still reclaimed, only not on every task's critical
path.  A ``pyspark.daemon`` without ``manager()`` or a module-level
``gc`` runs as ``__main__`` unchanged.  Cluster masters keep the stock
daemon and its full collection after every task.

Stdlib only, and it must stay so: a daemon that imports the engine's
package root before ``pyspark.worker_util`` is loaded forks workers in
which the zip guard (``_zipguard.py``) can never install.
"""

import gc
import importlib
import os
import runpy
import sys

KEY_FILE = "key"
DAEMON = "pyspark.daemon"


def zip_key(zip_path):
    """Identity of ``zip_path`` for this interpreter: real path, size,
    mtime and bytecode cache tag."""
    st = os.stat(zip_path)
    return "\n".join([os.path.realpath(zip_path), str(st.st_size),
                      str(st.st_mtime_ns), sys.implementation.cache_tag])


def cached_lib(cache, zip_path):
    """``<cache>/lib`` if the cache is complete and was built from
    ``zip_path`` as it is now, else None."""
    lib = os.path.join(cache, "lib")
    try:
        with open(os.path.join(cache, KEY_FILE)) as f:
            key = f.read()
        if (key == zip_key(zip_path)
                and os.path.isfile(os.path.join(lib, "pyspark", "__init__.py"))):
            return lib
    except OSError:
        pass
    return None


class _YoungGC:
    """The ``gc`` module, except that ``collect()`` stops at generation 1."""

    def collect(self, generation=1):
        return gc.collect(min(generation, 1))

    def __getattr__(self, name):
        return getattr(gc, name)


YOUNG_GC = _YoungGC()


def main():
    zip_path = next((p for p in sys.path
                     if os.path.basename(p) == "pyspark.zip"), None)
    cache = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    lib = zip_path and cached_lib(cache, zip_path)
    if lib:
        sys.path.insert(0, lib)
    daemon = importlib.import_module(DAEMON)
    if callable(getattr(daemon, "manager", None)) \
            and getattr(daemon, "gc", None) is gc:
        daemon.gc = YOUNG_GC
        daemon.manager()
        return
    # run afresh as __main__ (runpy warns of a module already imported)
    del sys.modules[DAEMON]
    runpy.run_module(DAEMON, run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
