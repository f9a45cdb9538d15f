"""Python daemon launcher that loads pyspark from a compiled copy.

``session.get_spark`` copies this file to ``<cache>/bin/lcps_cached_daemon.py``
next to ``<cache>/lib``, an extracted and byte-compiled copy of the
``pyspark.zip`` the JVM puts on the workers' ``PYTHONPATH``, and names it
as ``spark.python.daemon.module``.  Run as the daemon, it checks the cache
against the ``pyspark.zip`` on its own ``sys.path`` (:func:`zip_key`) and,
when the cache is complete and the key matches, puts ``<cache>/lib`` at
``sys.path[0]``.  Otherwise ``sys.path`` stays as it is.  Either way it then
runs ``pyspark.daemon`` as ``__main__`` with the arguments it was given.

Stdlib only, and it must stay so: a daemon that imports the engine's
package root before ``pyspark.worker_util`` is loaded forks workers in
which the zip guard (``_zipguard.py``) can never install.
"""

import os
import runpy
import sys

KEY_FILE = "key"


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


def main():
    zip_path = next((p for p in sys.path
                     if os.path.basename(p) == "pyspark.zip"), None)
    cache = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    lib = zip_path and cached_lib(cache, zip_path)
    if lib:
        sys.path.insert(0, lib)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
