"""Package shipping: each checkout ships its own sparkdedup zip."""

import importlib.util
import os
import shutil
import tempfile
import time
import zipfile

import sparkdedup.session

SESSION_PY = sparkdedup.session.__file__


class _FakeContext:
    def __init__(self):
        self.py_files = []

    def addPyFile(self, path):  # noqa: N802 - SparkContext's name
        self.py_files.append(path)


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


def _checkout(root, name, marker, mtime=None):
    """A package dir <root>/<name>/sparkdedup holding session.py and a
    marker module; returns its session module, imported from there."""
    pkg = os.path.join(root, name, "sparkdedup")
    os.makedirs(pkg)
    shutil.copy(SESSION_PY, os.path.join(pkg, "session.py"))
    with open(os.path.join(pkg, "marker.py"), "w") as f:
        f.write(f"CHECKOUT = {marker!r}\n")
    if mtime is not None:
        for n in os.listdir(pkg):
            os.utime(os.path.join(pkg, n), (mtime, mtime))
    spec = importlib.util.spec_from_file_location(
        f"_session_{name}", os.path.join(pkg, "session.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _shipped_marker(spark):
    (zpath,) = spark.sparkContext.py_files
    with zipfile.ZipFile(zpath) as z:
        return z.read("sparkdedup/marker.py").decode()


def test_checkouts_sharing_tmpdir_ship_their_own_code(tmp_path, monkeypatch):
    """B's sources are older than A's zip, so a zip shared by name would
    look fresh to B and ship A's code."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    a = _checkout(str(tmp_path), "a", "A")
    b = _checkout(str(tmp_path), "b", "B", mtime=time.time() - 3600)

    spark_a, spark_b = _FakeSpark(), _FakeSpark()
    a._ship_package(spark_a)
    b._ship_package(spark_b)

    assert _shipped_marker(spark_a) == "CHECKOUT = 'A'\n"
    assert _shipped_marker(spark_b) == "CHECKOUT = 'B'\n"
