"""Session transport: a local master puts the Python workers on Unix domain
sockets when the socket path fits ``sun_path``; every other master keeps
loopback TCP."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from light_curve_python_spark.session import _python_transport_conf

UDS_KEYS = {"spark.python.unix.domain.socket.enabled",
            "spark.python.unix.domain.socket.dir"}


def test_transport_conf_local_master_short_dir():
    conf = _python_transport_conf("local[4]", "/tmp")
    assert conf == {"spark.python.unix.domain.socket.enabled": "true",
                    "spark.python.unix.domain.socket.dir": "/tmp"}
    assert set(_python_transport_conf("local", "/tmp")) == UDS_KEYS
    assert set(_python_transport_conf("local[*]", "/tmp")) == UDS_KEYS


def test_transport_conf_keeps_tcp():
    # "<dir>/.<uuid4>.sock" overflows the 108-byte sun_path past 64 bytes
    assert set(_python_transport_conf("local[4]", "/" + "d" * 63)) \
        == UDS_KEYS
    assert _python_transport_conf("local[4]", "/" + "d" * 64) == {}
    assert _python_transport_conf(None, "/tmp") == {}
    assert _python_transport_conf("spark://host:7077", "/tmp") == {}
    assert _python_transport_conf("local-cluster[2,1,1024]", "/tmp") == {}


def test_engine_udfs_run_on_unix_socket_workers(spark):
    """Every task of an engine ``mapInArrow`` (``map_curves``) runs in a
    Python worker the daemon started in Unix-socket mode."""
    from light_curve_python_spark.operators.grouped import map_curves

    def probe(t):
        import os

        from pyspark import TaskContext
        return ([os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED")],
                [TaskContext.get().partitionId()])

    curves = spark.range(32, numPartitions=8).select(
        "id", F.array(F.struct(F.col("id").cast("double").alias("t")))
        .alias("c"))
    rows = map_curves(curves, "c", [0],
                      [T.StructField("uds", T.StringType()),
                       T.StructField("part", T.LongType())], probe).collect()
    assert len(rows) == 32
    assert {r.part for r in rows} == set(range(8))
    # the JVM exports "True"; pyspark's daemon reads it case-insensitively
    assert {r.uds.lower() for r in rows} == {"true"}
