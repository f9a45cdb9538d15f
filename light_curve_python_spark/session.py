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
cleanup leaves its ``.<uuid>.sock`` file behind in that directory; nothing
reuses or removes it.

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

import os
import re
import tempfile
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


def _python_transport_conf(master: Optional[str], sock_dir: str) -> dict:
    """Conf that puts executor<->Python-worker traffic on Unix domain
    sockets in ``sock_dir`` — only for a local master and only when the
    daemon's socket path fits ``sun_path``; otherwise empty (loopback
    TCP)."""
    if master is None or not re.fullmatch(r"local(\[.*\])?", master):
        return {}
    if len(os.fsencode(sock_dir)) > _MAX_SOCKET_DIR_BYTES:
        return {}
    return {"spark.python.unix.domain.socket.enabled": "true",
            "spark.python.unix.domain.socket.dir": sock_dir}


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
        # and the other zips on its path (CPython < 3.13, ~120 ms per task)
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
    conf = {**_python_transport_conf(master, tempfile.gettempdir()),
            **(extra_conf or {})}
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
