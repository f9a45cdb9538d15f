"""SparkSession factory with the engine's required configuration.

Arrow transfer on (all kernels run as Arrow-batched pandas UDFs), AQE on with
skew-join handling (hot-entity mitigation for the as-of merge), and sane
shuffle-partition defaults for local testing.  On a real cluster these settings
ride along unchanged; only master/partitions scale up.

Python workers over Unix domain sockets (local masters only).  Every
pandas/Arrow UDF task moves its batches over a socket between the executor
and a Python worker.  Over loopback TCP each Python task idles ~40 ms before
its data flows (the size of Linux's delayed-ACK minimum); over a Unix domain
socket that stall is gone (a trivial 16-partition ``mapInArrow``: 43-48 ms
per task on TCP, ~5 ms on a Unix socket, 4-core host).  So a session on a
``local``/``local[...]`` master sets ``spark.python.unix.domain.socket.enabled``
with the socket directory at ``tempfile.gettempdir()``; the driver's
local-data and accumulator sockets follow the same setting.  A cluster master
keeps TCP: the driver cannot know the executors' ``java.io.tmpdir``, and that
path may be too long for a socket.  The daemon binds ``<dir>/.<uuid4>.sock``,
which must fit AF_UNIX's 108-byte ``sun_path`` with its NUL, so a socket
directory longer than 64 bytes also keeps TCP.  ``extra_conf`` is applied
last and can set either key.  A daemon killed before its stdin-EOF/SIGTERM
cleanup leaves its ``.<uuid4>.sock`` file behind in that directory, so a
session that turns Unix sockets on first removes the files there that are
named so, are sockets of this user, are older than 60 s (a daemon between
``bind`` and ``listen`` refuses connections too) and refuse ``connect()``.
A live daemon accepts that probe and forks one worker, which exits when
the probe's connection closes.

Python daemon from cached bytecode (local masters only).  Each Spark
context starts its own Python daemon, which imports pyspark from
``$SPARK_HOME/python/lib/pyspark.zip``.  The zip holds no ``.pyc`` files
and Python never writes them into a zip, so every daemon start compiled
pyspark from source: ``import pyspark.worker`` takes ~1.2 s from the zip
and ~0.35 s from compiled files on a 4-core host, paid again after every
context restart.  So a session on a ``local``/``local[...]`` master keeps
one compiled copy of that zip per user, interpreter, zip and launcher at
``<tempfile.gettempdir()>/lcps_pyspark_<hash>``, the hash taken over the
user id, the zip's real path, size and ``st_mtime_ns``,
``sys.implementation.cache_tag`` and the launcher's sha256 (a cache keeps
the launcher it was built with).  Its ``lib`` holds the zip's files with
unchecked hash-based ``.pyc`` files for every module outside ``tests`` and
``examples``; its ``bin`` holds a copy of the stdlib-only launcher
``_cached_daemon.py``.  The session names the launcher in
``spark.python.daemon.module`` and appends ``bin`` to
``spark.executorEnv.PYTHONPATH`` (after any entries ``extra_conf`` gives
that key).  The launcher puts ``lib`` first on ``sys.path`` only when the
cache is complete and the ``pyspark.zip`` on its own path still matches
the key; otherwise it leaves the path alone.  Either way it runs
``pyspark.daemon``, so workers run the same pyspark sources, with one
difference: a reused worker of the stock daemon runs a full
``gc.collect()`` after every task before it reads the next one (34 ms at
the median, 68 ms at p90 over the ~74k objects a warm worker tracks,
4-core host), and the launcher makes that a collection of generations 0
and 1 only; CPython's own thresholds still run full collections.  That
cuts the per-task floor of every Python task by more than half
(``bench_extra.py python_task_floor``).  The first session on a host
builds the copy (extract and compile, ~2 s on a 4-core host) in a
temporary directory renamed into place, so of concurrent builders one
wins and the others remove theirs.  A cluster master, an ``extra_conf``
that names its own daemon module, a missing zip, a failed build and a
cache directory that is not the user's or is writable by others all keep
the stock daemon, and with it the full collection after every task.  A
cache damaged after its build (e.g. files removed by a temp-directory
cleaner) is not rebuilt in place, and the session keeps the stock daemon
until its directory is removed.  Nothing removes old caches either: after
a Spark upgrade or a launcher change the previous one (~30 MB) stays in
the temp directory.

Sorted buckets feed the PIT cogroup without a Sort.  A bucketed table
declared ``SORTED BY (doc_id, t)`` holds each bucket sorted by its entity
key, the order ``applyInArrow``'s cogroup asks of its inputs, but by
default Spark ignores that and sorts every observation row again.
``spark.sql.legacy.bucketedTableScan.outputOrdering`` makes the scan
report the declared order.  It is safe to set unconditionally: Spark
reports the order only when every bucket of the scan is a single file
(one sorted file is sorted; several files of one bucket together are
not).  So the ``Sort`` stays on a side whose buckets hold several files,
which is what ``bucketBy(n, key).sortBy(...).saveAsTable`` writes from a
frame not partitioned by the key, and on a side with no ``SORTED BY``
(e.g. a probe table bucketed but not declared sorted).  Writing
``repartition(n, key)`` before ``bucketBy(n, key)`` gives one file per
bucket.  Where the Sort goes, so do its sort buffers: on the perfbench
``pit_features`` workload (4-core host, 3 pairs) this setting alone took
``job_s.p50`` 0.374 → 0.359 s and peak RSS 1745 → 1693 MB (medians).
Spark trusts the declaration: a table registered over files that are not
in fact sorted by its ``SORTED BY`` columns would split entities across
cogroup calls.  Spark's own writers always sort.
"""

from __future__ import annotations

import hashlib
import os
import re
import socket
import stat
import tempfile
import time
import warnings
import zipfile
from typing import Optional

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_SHUFFLE_PARTITIONS"]

# empty-string env (e.g. `SPARK_GRAFT_CPUS= spark-submit ...`) means unset
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS") or "32")


def _defaults_conf_has_master() -> bool:
    """True when a spark-defaults.conf visible to this process pins
    spark.master — the builder must then leave master unset so the conf
    file wins (a local[*] fallback would silently run cluster-configured
    jobs locally)."""
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    if not conf_dir and os.environ.get("SPARK_HOME"):
        conf_dir = os.path.join(os.environ["SPARK_HOME"], "conf")
    if not conf_dir:
        return False
    path = os.path.join(conf_dir, "spark-defaults.conf")
    try:
        with open(path) as f:
            for line in f:
                # java.util.Properties accepts whitespace, '=' and ':'
                # as key separators — recognize all three, with exact
                # key match (spark.master.rest.enabled must NOT pin)
                key = re.split(r"[\s=:]", line.strip(), 1)[0]
                if key == "spark.master":
                    return True
    except OSError:
        return False
    return False


# AF_UNIX sun_path is 108 bytes with its NUL; the daemon's socket file is
# "<dir>/." + uuid4 (36) + ".sock", so the directory may take 107 - 43 bytes
_MAX_SOCKET_DIR_BYTES = 64


def _is_local(master: Optional[str]) -> bool:
    return master is not None and bool(re.fullmatch(r"local(\[.*\])?",
                                                     master))


def _python_transport_conf(master: Optional[str], sock_dir: str) -> dict:
    """Conf that puts executor<->Python-worker traffic on Unix domain
    sockets in ``sock_dir`` — only for a local master and only when the
    daemon's socket path fits ``sun_path``; otherwise empty (loopback
    TCP)."""
    if not _is_local(master):
        return {}
    if len(os.fsencode(sock_dir)) > _MAX_SOCKET_DIR_BYTES:
        return {}
    return {"spark.python.unix.domain.socket.enabled": "true",
            "spark.python.unix.domain.socket.dir": sock_dir}


DAEMON_MODULE_KEY = "spark.python.daemon.module"
PYTHONPATH_KEY = "spark.executorEnv.PYTHONPATH"
_LAUNCHER = "lcps_cached_daemon"
# never imported by a worker, so never compiled in the cache
_UNUSED_DIRS = r"(?:.*/)?(?:tests|examples)/"


def _pyspark_zip() -> Optional[str]:
    """The ``pyspark.zip`` the JVM puts on its Python workers' path
    (``$SPARK_HOME/python/lib``, SPARK_HOME found as pyspark's launcher
    finds it), or None."""
    from pyspark.find_spark_home import _find_spark_home
    try:
        path = os.path.join(_find_spark_home(), "python", "lib",
                            "pyspark.zip")
    except SystemExit:
        return None
    return path if os.path.isfile(path) else None


def _build_cache(zip_path: str, final: str) -> None:
    """Extract ``zip_path`` into ``<final>/lib``, compile it to unchecked
    hash-based pycs, add the launcher and its key, and rename the lot to
    ``final`` in one step; a concurrent builder that renamed first wins
    and this build is removed."""
    import compileall
    import py_compile
    import shutil

    from . import _cached_daemon

    work = tempfile.mkdtemp(prefix=f".{os.path.basename(final)}.",
                            dir=os.path.dirname(final))
    try:
        lib = os.path.join(work, "lib")
        with zipfile.ZipFile(zip_path) as z:
            z.extractall(lib)
        compileall.compile_dir(
            lib, quiet=2, rx=re.compile(re.escape(lib + os.sep)
                                        + _UNUSED_DIRS),
            invalidation_mode=py_compile.PycInvalidationMode.UNCHECKED_HASH)
        os.mkdir(os.path.join(work, "bin"))
        shutil.copyfile(_cached_daemon.__file__,
                        os.path.join(work, "bin", _LAUNCHER + ".py"))
        with open(os.path.join(work, _cached_daemon.KEY_FILE), "w") as f:
            f.write(_cached_daemon.zip_key(zip_path))
        os.rename(work, final)
    except OSError:
        if not os.path.isdir(final):
            raise
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _bytecode_cache(zip_path: str, tmp: str) -> Optional[str]:
    """The cache directory of ``zip_path`` under ``tmp``, built on first
    use; None if it cannot be built or is not this user's."""
    from . import _cached_daemon

    # the launcher is copied in once, so a changed launcher needs a new
    # directory: a cache built by an older one would keep running it
    with open(_cached_daemon.__file__, "rb") as f:
        launcher = hashlib.sha256(f.read()).hexdigest()
    key = f"{os.getuid()}\n{_cached_daemon.zip_key(zip_path)}\n{launcher}"
    final = os.path.join(tmp, "lcps_pyspark_" + hashlib.sha256(
        key.encode()).hexdigest()[:16])
    lib = _cached_daemon.cached_lib(final, zip_path)
    if lib is None:
        _build_cache(zip_path, final)
        lib = _cached_daemon.cached_lib(final, zip_path)
    st = os.stat(final)
    mine = st.st_uid == os.getuid() and not st.st_mode & 0o022
    return final if lib and mine else None


def _python_daemon_conf(master: Optional[str], tmp: str,
                        extra_conf: dict) -> dict:
    """Conf that starts the Python daemon through the cached-bytecode
    launcher: a local master only, not when ``extra_conf`` names its own
    daemon module, and not without a built cache.  The caller's
    ``spark.executorEnv.PYTHONPATH`` keeps its entries first."""
    if not _is_local(master) or DAEMON_MODULE_KEY in extra_conf:
        return {}
    zip_path = _pyspark_zip()
    try:
        cache = zip_path and _bytecode_cache(zip_path, tmp)
    except (OSError, zipfile.BadZipFile) as e:
        warnings.warn(f"no compiled copy of {zip_path} ({e!r}); the Python "
                      "daemon compiles pyspark from the zip", RuntimeWarning)
        cache = None
    if not cache:
        return {}
    path = [p for p in (extra_conf.get(PYTHONPATH_KEY),
                        os.path.join(cache, "bin")) if p]
    return {DAEMON_MODULE_KEY: _LAUNCHER, PYTHONPATH_KEY: os.pathsep.join(path)}


# the name pyspark's daemon gives its socket: "." + uuid4 + ".sock"
_SOCKET_NAME = re.compile(r"\.[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}"
                          r"-[89ab][0-9a-f]{3}-[0-9a-f]{12}\.sock")
# a daemon binds its socket, then listens: younger files may be that gap
_DEAD_SOCKET_AGE_S = 60


def _remove_dead_sockets(sock_dir: str) -> None:
    """Remove the daemon socket files in ``sock_dir`` that a killed
    daemon left behind: named as the daemon names them, a socket owned by
    this user, older than ``_DEAD_SOCKET_AGE_S`` and refusing
    ``connect()``.  A live daemon's socket accepts, so it stays (its
    daemon forks a worker that exits on the closed connection)."""
    try:
        names = [n for n in os.listdir(sock_dir) if _SOCKET_NAME.fullmatch(n)]
    except OSError:
        return
    for name in names:
        path = os.path.join(sock_dir, name)
        try:
            st = os.lstat(path)
            if not (stat.S_ISSOCK(st.st_mode) and st.st_uid == os.getuid()
                    and time.time() - st.st_mtime > _DEAD_SOCKET_AGE_S):
                continue
            with socket.socket(socket.AF_UNIX, socket.SOCK_STREAM) as s:
                s.setblocking(False)  # a full backlog is live, not dead
                try:
                    s.connect(path)
                except ConnectionRefusedError:
                    os.remove(path)
        except OSError:
            continue


def _session_conf(master: Optional[str], extra_conf: dict) -> dict:
    """The master-dependent conf ``get_spark`` applies after its fixed
    settings: Python transport, then ``extra_conf``, then the daemon conf,
    which yields to ``extra_conf``'s daemon module and carries its
    ``spark.executorEnv.PYTHONPATH`` entries first.  Turning Unix sockets
    on also removes dead daemon sockets from their directory."""
    tmp = tempfile.gettempdir()
    transport = _python_transport_conf(master, tmp)
    if transport:
        _remove_dead_sockets(tmp)
    return {**transport, **extra_conf,
            **_python_daemon_conf(master, tmp, extra_conf)}


def _local_dirs() -> Optional[str]:
    """Fast local storage for shuffle files.  The container's overlay fs is
    pathologically slow for shuffle I/O (7x slowdown measured); /dev/shm
    stands in for the local SSDs a real cluster would use."""
    if os.path.isdir("/dev/shm"):
        d = "/dev/shm/spark-local"
        os.makedirs(d, exist_ok=True)
        return d
    return None


def get_spark(master: Optional[str] = None,
              app_name: str = "light-curve-python-spark",
              shuffle_partitions: Optional[int] = None,
              extra_conf: Optional[dict] = None) -> SparkSession:
    # numpy kernels are parallelized by Spark tasks; per-worker BLAS
    # threading would oversubscribe the cores
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    if master is None:
        # under spark-submit/cluster managers spark.master is already set;
        # only default to local[...] when the env pins a local run
        # (tests/bench set SPARK_GRAFT_CPUS) so the CLI entrypoint never
        # silently overrides the cluster master
        under_cluster = ("PYSPARK_GATEWAY_PORT" in os.environ
                         or "SPARK_MASTER" in os.environ
                         or "MASTER" in os.environ
                         or _defaults_conf_has_master())
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or None
        if cpus and not under_cluster:
            # a leftover test/bench env var must NOT override a real
            # cluster master under spark-submit
            master = f"local[{cpus}]"
        elif not under_cluster:
            # plain `python script.py` (no spark-submit gateway, no master
            # env, no spark-defaults.conf master): getOrCreate would fail
            # with "master URL must be set" — keep the interactive default
            master = "local[*]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = SparkSession.builder
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder.appName(app_name)
        # Arrow batches between JVM and Python workers — the zero-copy path
        # that replaces the reference's PyO3 boundary (SURVEY.md §3.4)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Spark 4 byte-based bound: the aggregate-then-map operators ship
        # whole curves as list<struct> rows, so a records-only cap would
        # let a few million-point entities put GBs into one Python batch
        # (guide §4.2); 64m splits such batches with no effect on the
        # common case (one entity's row is never split — see the size
        # limit in operators/grouped.py)
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(64 * 1024 * 1024))
        # runtime re-planning: partition coalescing + skew-join splitting
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # default-true, pinned: forked Python workers persist across tasks,
        # so kernel import/jit costs are paid once per core, not per task,
        # and the zipimport guard the package root installs in a worker
        # (_zipguard.py) keeps its later tasks from re-reading pyspark.zip
        # and the other zips on its path (CPython < 3.13, ~120 ms per task);
        # on a local master the daemon launcher also replaces the stock
        # daemon's full gc.collect() between a worker's tasks with a
        # young-generation one (~34 ms per task); cluster masters keep it
        .config("spark.python.worker.reuse", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        # single-file buckets report their SORTED BY order, so the
        # cogroup over a sorted bucketed table skips its Sort (docstring)
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.ui.enabled", "false")
    )
    local_dirs = _local_dirs()
    if local_dirs:
        builder = builder.config("spark.local.dir", local_dirs)
    for k, v in _session_conf(master, extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
