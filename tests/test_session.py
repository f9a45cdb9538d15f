"""Session transport and daemon: a local master puts the Python workers on
Unix domain sockets when the socket path fits ``sun_path`` and starts their
daemon from a byte-compiled copy of ``pyspark.zip``; every other master
keeps loopback TCP and the stock daemon."""

import json
import os
import subprocess
import sys
import tempfile
import threading
import zipfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from light_curve_python_spark import _cached_daemon, session
from light_curve_python_spark.session import _python_transport_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = session.DAEMON_MODULE_KEY
PYPATH = session.PYTHONPATH_KEY

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


# --- Python daemon started from cached pyspark bytecode -------------------

FAKE_DAEMON = """
import json, sys
import pyspark
if __name__ == "__main__":
    print(json.dumps({"pyspark": pyspark.__file__, "argv": sys.argv[1:],
                      "engine": "light_curve_python_spark" in sys.modules}))
"""


@pytest.fixture
def fake_zip(tmp_path):
    """A two-module stand-in for ``pyspark.zip`` whose ``pyspark.daemon``
    reports where ``pyspark`` was loaded from and its own arguments."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    zpath = str(lib / "pyspark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/daemon.py", FAKE_DAEMON)
        z.writestr("pyspark/tests/test_x.py", "")
    return zpath


def _run_launcher(cache, zpath):
    """``python -m`` the cache's launcher the way the JVM starts a
    daemon: pyspark.zip first on PYTHONPATH, then the cache's bin (and
    here the engine's root, which the launcher must not import)."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [zpath, os.path.join(cache, "bin"), REPO]))
    res = subprocess.run([sys.executable, "-m", session._LAUNCHER,
                          "pyspark.worker", "x"], env=env, cwd=cache,
                         capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr
    out = json.loads(res.stdout)
    assert out["argv"] == ["pyspark.worker", "x"]
    assert not out["engine"]
    return out["pyspark"]


def test_launcher_loads_pyspark_from_the_cache(fake_zip, tmp_path):
    cache = session._bytecode_cache(fake_zip, str(tmp_path))
    assert cache is not None and os.path.dirname(cache) == str(tmp_path)
    assert session._bytecode_cache(fake_zip, str(tmp_path)) == cache
    lib = os.path.join(cache, "lib")
    assert _run_launcher(cache, fake_zip) == os.path.join(
        lib, "pyspark", "__init__.py")
    pycs = os.listdir(os.path.join(lib, "pyspark", "__pycache__"))
    assert sorted(p.split(".")[0] for p in pycs) == ["__init__", "daemon"]
    with open(os.path.join(lib, "pyspark", "__pycache__", pycs[0]),
              "rb") as f:
        flags = int.from_bytes(f.read(8)[4:], "little")
    assert flags == 0b01  # hash-based, source not checked
    # tests are extracted but not compiled
    assert os.path.isfile(os.path.join(lib, "pyspark", "tests", "test_x.py"))
    assert not os.path.isdir(os.path.join(lib, "pyspark", "tests",
                                          "__pycache__"))


@pytest.mark.parametrize("damage", ["key", "lib/pyspark/__init__.py",
                                    "zip mtime"])
def test_launcher_falls_back_to_the_stock_path(fake_zip, tmp_path, damage):
    cache = session._bytecode_cache(fake_zip, str(tmp_path))
    if damage == "zip mtime":
        st = os.stat(fake_zip)
        os.utime(fake_zip, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        assert session._bytecode_cache(fake_zip, str(tmp_path)) != cache
    else:
        os.remove(os.path.join(cache, damage))
        # a damaged cache is not rebuilt in place: the session goes stock
        assert session._bytecode_cache(fake_zip, str(tmp_path)) is None
    assert _run_launcher(cache, fake_zip) == os.path.join(
        fake_zip, "pyspark", "__init__.py")


def test_concurrent_builds_leave_one_complete_directory(fake_zip, tmp_path):
    out = tmp_path / "tmp"
    out.mkdir()
    final = str(out / "lcps_pyspark_0")
    barrier = threading.Barrier(2)
    errors = []

    def build():
        barrier.wait(timeout=60)
        try:
            session._build_cache(fake_zip, final)
        except Exception as e:  # pragma: no cover - reported below
            errors.append(e)

    threads = [threading.Thread(target=build) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert os.listdir(out) == ["lcps_pyspark_0"]
    assert _cached_daemon.cached_lib(final, fake_zip) is not None


def test_daemon_conf_scope(fake_zip, tmp_path, monkeypatch):
    """Local masters get the launcher; cluster masters, a caller's own
    daemon module, a missing zip and a failed build keep the stock
    daemon; a caller's PYTHONPATH keeps its entries first."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(session, "_pyspark_zip", lambda: fake_zip)
    conf = session._session_conf("local[4]", {})
    cache = session._bytecode_cache(fake_zip, str(tmp_path))
    assert conf[DAEMON] == session._LAUNCHER
    assert conf[PYPATH] == os.path.join(cache, "bin")
    conf = session._session_conf("local", {PYPATH: "/x"})
    assert conf[PYPATH] == os.pathsep.join(["/x", os.path.join(cache, "bin")])
    for master in (None, "spark://host:7077", "local-cluster[2,1,1024]",
                   "yarn"):
        assert not {DAEMON, PYPATH} & set(session._session_conf(master, {}))
    conf = session._session_conf("local[4]", {DAEMON: "my.daemon"})
    assert conf[DAEMON] == "my.daemon" and PYPATH not in conf
    monkeypatch.setattr(session, "_pyspark_zip", lambda: None)
    assert DAEMON not in session._session_conf("local[4]", {})
    broken = tmp_path / "broken.zip"
    broken.write_bytes(b"not a zip")
    monkeypatch.setattr(session, "_pyspark_zip", lambda: str(broken))
    with pytest.warns(RuntimeWarning, match="compiles pyspark from the zip"):
        assert DAEMON not in session._session_conf("local[4]", {})


def test_foreign_cache_directory_is_not_used(fake_zip, tmp_path):
    cache = session._bytecode_cache(fake_zip, str(tmp_path))
    os.chmod(cache, 0o777)
    assert session._bytecode_cache(fake_zip, str(tmp_path)) is None


def test_engine_workers_load_pyspark_from_the_cache(spark):
    """Every task of an engine ``mapInArrow`` runs in a worker whose
    pyspark comes from the cache's ``lib`` and whose zip guard is
    installed (the launcher did not load the engine before pyspark)."""
    from light_curve_python_spark.operators.grouped import map_curves

    zpath = session._pyspark_zip()
    if zpath is None:
        pytest.skip("no pyspark.zip under SPARK_HOME: stock daemon")
    lib = os.path.join(session._bytecode_cache(
        zpath, tempfile.gettempdir()), "lib")
    assert spark.sparkContext.getConf().get(DAEMON) == session._LAUNCHER

    def probe(t):
        import pyspark

        from light_curve_python_spark import _zipguard
        return [pyspark.__file__], [_zipguard.installed()]

    curves = spark.range(32, numPartitions=8).select(
        "id", F.array(F.struct(F.col("id").cast("double").alias("t")))
        .alias("c"))
    rows = map_curves(curves, "c", [0],
                      [T.StructField("path", T.StringType()),
                       T.StructField("guard", T.BooleanType())],
                      probe).collect()
    assert len(rows) == 32
    assert {r.path for r in rows} == {
        os.path.join(lib, "pyspark", "__init__.py")}
    assert {r.guard for r in rows} == {sys.version_info < (3, 13)}
