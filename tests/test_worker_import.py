"""The package zip shipped to Python workers, without Spark: its name
and bytes (``__spark_entry__._package_zip``), and the package root's
stat-guarded ``zipimporter.invalidate_caches``
(``light_curve_python_spark/_zipguard.py``).

Each guard case runs in a fresh interpreter with a throwaway package zip
on ``sys.path`` (imported through three zipimporters: the archive, its
package and a subpackage) and counts ``zipimport._read_directory`` calls
on that archive per ``importlib.invalidate_caches()``.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = r"""
import importlib, json, os, sys, zipimport

repo, zpath, mode = sys.argv[1:4]
sys.path.insert(0, zpath)
if mode in ("worker", "worker_313"):
    import pyspark.worker_util  # what a Spark Python worker has loaded
if mode == "worker_313":
    sys.version_info = (3, 13, 0, "final", 0)
import lcps_zip_probe.sub.leaf

reads = []
_read_directory = zipimport._read_directory


def counted(archive):
    reads.append(archive)
    return _read_directory(archive)


zipimport._read_directory = counted


def invalidate():
    del reads[:]
    importlib.invalidate_caches()
    return reads.count(zpath)


out = {"before_import": invalidate()}
sys.path.append(repo)
from light_curve_python_spark import _zipguard

out["installed"] = _zipguard.installed()
out["stock"] = zipimport.zipimporter.invalidate_caches is _zipguard._stock
method = zipimport.zipimporter.invalidate_caches
out["reinstall"] = _zipguard.install()
out["reinstall_same"] = zipimport.zipimporter.invalidate_caches is method
out["unchanged"] = [invalidate() for _ in range(3)]

import zipfile
with zipfile.ZipFile(zpath, "a") as z:
    z.writestr("lcps_zip_probe/extra.py", "VALUE = 7\n")
out["rewritten"] = [invalidate() for _ in range(2)]
out["extra"] = importlib.import_module("lcps_zip_probe.extra").VALUE

os.remove(zpath)
out["deleted"] = [invalidate() for _ in range(2)]
out["deleted_cached"] = zpath in zipimport._zip_directory_cache
out["deleted_files"] = sorted(
    len(f._files) for f in sys.path_importer_cache.values()
    if isinstance(f, zipimport.zipimporter) and f.archive == zpath)
try:
    import lcps_zip_probe.never_imported
    out["deleted_import"] = "imported"
except ImportError as e:
    out["deleted_import"] = type(e).__name__
print(json.dumps(out))
"""

N_IMPORTERS = 3  # the archive, lcps_zip_probe/ and lcps_zip_probe/sub/


def _probe(tmp_path, mode):
    zpath = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("lcps_zip_probe/__init__.py", "")
        z.writestr("lcps_zip_probe/sub/__init__.py", "")
        z.writestr("lcps_zip_probe/sub/leaf.py", "")
        z.writestr("lcps_zip_probe/never_imported.py", "")
    res = subprocess.run([sys.executable, "-c", PROBE, REPO, zpath, mode],
                         capture_output=True, text=True, cwd=str(tmp_path),
                         timeout=120)
    assert res.returncode == 0, res.stderr
    return json.loads(res.stdout.strip().splitlines()[-1])


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="zipimporter.invalidate_caches is lazy from 3.13")
def test_guard_skips_rereads_of_an_unchanged_zip(tmp_path):
    out = _probe(tmp_path, "worker")
    assert out["before_import"] == N_IMPORTERS  # stock: once per importer
    assert out["installed"] and not out["stock"]
    assert out["reinstall"] and out["reinstall_same"]
    # the first guarded call reads the archive once for all its importers,
    # later ones read nothing while it is unchanged
    assert out["unchanged"] == [1, 0, 0]
    # a rewrite is seen: one read, then none; the new module imports
    assert out["rewritten"] == [1, 0]
    assert out["extra"] == 7


def test_guard_matches_stock_on_a_deleted_zip(tmp_path):
    runs = {}
    for mode in ("driver", "worker"):
        (tmp_path / mode).mkdir()
        runs[mode] = _probe(tmp_path / mode, mode)
    stock, guarded = runs["driver"], runs["worker"]
    keys = ("deleted", "deleted_cached", "deleted_files", "deleted_import")
    assert {k: guarded[k] for k in keys} == {k: stock[k] for k in keys}
    assert stock["deleted_import"] == "ModuleNotFoundError"
    assert not stock["deleted_cached"]


@pytest.mark.parametrize("mode", ["driver", "worker_313"])
def test_stock_method_outside_workers_and_on_313(tmp_path, mode):
    out = _probe(tmp_path, mode)
    assert not out["installed"] and out["stock"]
    assert not out["reinstall"] and out["reinstall_same"]
    assert out["unchanged"] == [out["before_import"]] * 3
    assert out["extra"] == 7


def test_package_zip_is_named_by_its_content(tmp_path, monkeypatch):
    """Two copies of the package tree with different mtimes zip to the
    same path and bytes; a one-byte source change gives another path, so
    drivers on one host with different trees never share a zip file."""
    import __spark_entry__ as E

    out = tmp_path / "tmp"
    out.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(out))
    trees = []
    for name, mtime in (("a", 1e9), ("b", 2e9)):
        dst = tmp_path / name / "light_curve_python_spark"
        shutil.copytree(os.path.join(REPO, "light_curve_python_spark"), dst,
                        ignore=shutil.ignore_patterns("__pycache__"))
        for root, _dirs, files in os.walk(dst):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        trees.append(dst)
    zips = []
    for tree in trees:
        zpath = E._package_zip(str(tree))
        with open(zpath, "rb") as fh:
            zips.append((zpath, fh.read()))
        os.remove(zpath)
    assert zips[0] == zips[1]
    zpath = E._package_zip(str(trees[0]))
    with zipfile.ZipFile(zpath) as z:
        assert "light_curve_python_spark/__init__.py" in z.namelist()
    init = trees[1] / "__init__.py"
    init.write_bytes(init.read_bytes() + b" ")
    changed = E._package_zip(str(trees[1]))
    assert changed != zpath
    # written through a temp file and os.replace: only the zips remain
    assert sorted(os.listdir(out)) == sorted(
        os.path.basename(p) for p in (zpath, changed))
