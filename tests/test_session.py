"""Session transport and daemon: a local master puts the Python workers on
Unix domain sockets when the socket path fits ``sun_path`` and starts their
daemon from a byte-compiled copy of ``pyspark.zip`` through a launcher
whose reused workers collect only the young generations between tasks;
every other master keeps loopback TCP and the stock daemon."""

import json
import os
import shutil
import socket
import subprocess
import sys
import tempfile
import threading
import time
import uuid
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
import gc, json, sys
import pyspark


def report():
    gen2 = gc.get_stats()[2]["collections"]
    gc.collect()
    print(json.dumps({"pyspark": pyspark.__file__, "argv": sys.argv[1:],
                      "engine": "light_curve_python_spark" in sys.modules,
                      "name": __name__, "gc": type(gc).__name__,
                      "gc_enabled": gc.isenabled(),
                      "full_collections":
                          gc.get_stats()[2]["collections"] - gen2}))
"""
# pyspark's own daemon runs its manager() as __main__ too
MANAGER = """
def manager():
    report()
"""
MAIN = """
if __name__ == "__main__":
    report()
"""


def _write_fake_zip(tmp_path, daemon):
    """A two-module stand-in for ``pyspark.zip`` whose ``pyspark.daemon``
    is ``daemon``."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    zpath = str(lib / "pyspark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/daemon.py", daemon)
        z.writestr("pyspark/tests/test_x.py", "")
    return zpath


@pytest.fixture
def fake_zip(tmp_path):
    """A ``pyspark.zip`` whose ``pyspark.daemon`` has no ``manager()``
    and, run as ``__main__``, reports where ``pyspark`` was loaded from,
    its own arguments and the ``gc`` it sees."""
    return _write_fake_zip(tmp_path, FAKE_DAEMON + MAIN)


def _run_launcher(cache, zpath):
    """``python -m`` the cache's launcher the way the JVM starts a
    daemon: pyspark.zip first on PYTHONPATH, then the cache's bin (and
    here the engine's root, which the launcher must not import); returns
    the fake daemon's report."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [zpath, os.path.join(cache, "bin"), REPO]))
    res = subprocess.run([sys.executable, "-m", session._LAUNCHER,
                          "pyspark.worker", "x"], env=env, cwd=cache,
                         capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr
    assert not res.stderr  # e.g. runpy's warning of a module run twice
    out = json.loads(res.stdout)
    assert out["argv"] == ["pyspark.worker", "x"]
    assert not out["engine"]
    return out


def test_launcher_loads_pyspark_from_the_cache(fake_zip, tmp_path):
    cache = session._bytecode_cache(fake_zip, str(tmp_path))
    assert cache is not None and os.path.dirname(cache) == str(tmp_path)
    assert session._bytecode_cache(fake_zip, str(tmp_path)) == cache
    lib = os.path.join(cache, "lib")
    assert _run_launcher(cache, fake_zip)["pyspark"] == os.path.join(
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
    assert _run_launcher(cache, fake_zip)["pyspark"] == os.path.join(
        fake_zip, "pyspark", "__init__.py")


def test_launcher_runs_a_daemon_without_manager_as_main(fake_zip, tmp_path):
    out = _run_launcher(session._bytecode_cache(fake_zip, str(tmp_path)),
                        fake_zip)
    assert out["name"] == "__main__"
    assert out["gc"] == "module" and out["full_collections"] == 1


def test_launcher_calls_manager_with_the_young_gc(tmp_path):
    zpath = _write_fake_zip(tmp_path, FAKE_DAEMON + MANAGER + MAIN)
    cache = session._bytecode_cache(zpath, str(tmp_path))
    out = _run_launcher(cache, zpath)
    assert out["pyspark"] == os.path.join(cache, "lib", "pyspark",
                                          "__init__.py")
    assert out["name"] == "pyspark.daemon"
    assert out["gc"] == "_YoungGC" and out["full_collections"] == 0
    assert out["gc_enabled"]  # every other attribute is the real gc's


def test_cache_directory_is_keyed_by_the_launcher(fake_zip, tmp_path,
                                                  monkeypatch):
    """A launcher is copied into its cache once, so an edited launcher
    must get its own cache directory to ever run."""
    first = session._bytecode_cache(fake_zip, str(tmp_path))
    edited = tmp_path / "launcher.py"
    with open(_cached_daemon.__file__, "rb") as f:
        edited.write_bytes(f.read() + b"# edited\n")
    monkeypatch.setattr(_cached_daemon, "__file__", str(edited))
    second = session._bytecode_cache(fake_zip, str(tmp_path))
    assert second is not None and second != first
    with open(os.path.join(second, "bin", session._LAUNCHER + ".py"),
              "rb") as f:
        assert f.read() == edited.read_bytes()


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


REUSE_PROBE = r"""
import json, sys
from pyspark.sql import functions as F
from pyspark.sql import types as T
from light_curve_python_spark.operators.grouped import map_curves
from light_curve_python_spark.session import get_spark


def probe(t):
    import gc, os, sys, types, weakref
    state = sys.modules.get("_lcps_reuse_probe")
    if state is None:
        state = sys.modules["_lcps_reuse_probe"] = types.ModuleType("s")
        state.seq, state.ref = 0, None
    gen2 = gc.get_stats()[2]["collections"]
    dead = None if state.ref is None else state.ref() is None

    class Cycle:
        pass

    cycle = Cycle()
    cycle.self = cycle  # garbage only a cycle collection frees
    state.ref = weakref.ref(cycle)
    del cycle
    state.seq += 1
    return [os.getpid()], [state.seq], [gen2], [dead]


spark = get_spark(master="local[1]", shuffle_partitions=1,
                  app_name="lcps-reuse-probe")
curves = spark.range(int(sys.argv[1]), numPartitions=int(sys.argv[1])).select(
    "id", F.array(F.struct(F.col("id").cast("double").alias("t"))).alias("c"))
rows = map_curves(curves, "c", [0],
                  [T.StructField("pid", T.LongType()),
                   T.StructField("seq", T.LongType()),
                   T.StructField("gen2", T.LongType()),
                   T.StructField("dead", T.BooleanType())], probe).collect()
spark.stop()
print(json.dumps(sorted([r.seq, r.pid, r.gen2, r.dead] for r in rows)))
"""


def test_reused_worker_skips_full_collections_between_tasks(tmp_path):
    """On ``local[1]`` one reused worker runs every task of an engine
    ``mapInArrow``: no full collection runs between its tasks (the stock
    daemon runs one after each), and a reference cycle a task leaves
    behind is freed before the next task starts."""
    if session._pyspark_zip() is None:
        pytest.skip("no pyspark.zip under SPARK_HOME: stock daemon")
    n_tasks = 6
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [REPO] + [p for p in [os.environ.get("PYTHONPATH")] if p]))
    res = subprocess.run([sys.executable, "-c", REUSE_PROBE, str(n_tasks)],
                         env=env, cwd=str(tmp_path), capture_output=True,
                         text=True, timeout=300)
    assert res.returncode == 0, res.stderr
    rows = json.loads(res.stdout.strip().splitlines()[-1])
    assert [r[0] for r in rows] == list(range(1, n_tasks + 1))
    assert len({r[1] for r in rows}) == 1
    assert len({r[2] for r in rows}) == 1, rows
    assert [r[3] for r in rows] == [None] + [True] * (n_tasks - 1)


# --- dead daemon sockets ----------------------------------------------------

@pytest.fixture
def sock_dir():
    """A directory short enough for ``<dir>/.<uuid4>.sock`` in
    ``sun_path`` (pytest's ``tmp_path`` may not be)."""
    d = tempfile.mkdtemp(prefix="lcps")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _bound(sock_dir, listen, age_s):
    """A daemon-named socket file in ``sock_dir``, ``age_s`` old: a
    listener (returned open) or a closed socket's leftover file."""
    path = os.path.join(sock_dir, f".{uuid.uuid4()}.sock")
    s = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
    s.bind(path)
    if listen:
        s.listen(1)
    else:
        s.close()
    t = time.time() - age_s
    os.utime(path, (t, t))
    return path, s


def test_dead_daemon_sockets_are_removed(sock_dir, monkeypatch):
    old = session._DEAD_SOCKET_AGE_S + 10
    dead, _ = _bound(sock_dir, False, old)
    fresh, _ = _bound(sock_dir, False, 0)
    live, listener = _bound(sock_dir, True, old)
    # the daemon's name on a regular file, and another name on a socket
    named_file = os.path.join(sock_dir, f".{uuid.uuid4()}.sock")
    open(named_file, "w").close()
    os.utime(named_file, (time.time() - old,) * 2)
    other = os.path.join(sock_dir, "other.sock")
    os.rename(_bound(sock_dir, False, old)[0], other)
    try:
        session._remove_dead_sockets(sock_dir)
    finally:
        listener.close()
    assert sorted(os.listdir(sock_dir)) == sorted(
        os.path.basename(p) for p in (fresh, live, named_file, other))
    # get_spark's conf removes them when it turns Unix sockets on
    again, _ = _bound(sock_dir, False, old)
    monkeypatch.setattr(tempfile, "tempdir", sock_dir)
    monkeypatch.setattr(session, "_pyspark_zip", lambda: None)
    session._session_conf("spark://host:7077", {})
    assert os.path.exists(again)
    session._session_conf("local[4]", {})
    assert not os.path.exists(again) and not os.path.exists(live)
