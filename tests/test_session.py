"""Session set-up: each checkout ships its own sparkdedup zip, and local
file:// writes set file modes without forking chmod."""

import importlib.util
import os
import shutil
import stat
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


def test_deleted_module_leaves_the_zip(tmp_path, monkeypatch):
    """Deleting a module makes no source newer than the zip, yet the next
    ship must rebuild it without that module."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    a = _checkout(str(tmp_path), "a", "A")
    first = _FakeSpark()
    a._ship_package(first)
    assert _shipped_marker(first) == "CHECKOUT = 'A'\n"

    os.remove(os.path.join(str(tmp_path), "a", "sparkdedup", "marker.py"))
    second = _FakeSpark()
    a._ship_package(second)
    (zpath,) = second.sparkContext.py_files
    with zipfile.ZipFile(zpath) as z:
        assert z.namelist() == ["sparkdedup/session.py"]


def test_local_file_system_sets_modes_without_chmod(spark, tmp_path):
    """file:// is served by jvm/LocalFileSystem.java: parquet files and
    directories get Hadoop's default modes (umask 022) through java.nio,
    and a mode java.nio cannot set (sticky bit) still goes to chmod."""
    jvm = spark._jvm
    hadoop_fs = jvm.org.apache.hadoop.fs
    fs = hadoop_fs.FileSystem.get(jvm.java.net.URI("file:///"),
                                  spark._jsc.hadoopConfiguration())
    assert fs.getClass().getName() == "sparkdedup.jvm.LocalFileSystem"

    out = tmp_path / "t"
    spark.range(10).repartition(2).write.parquet(str(out))
    modes = {p.name: stat.S_IMODE(p.stat().st_mode) for p in out.iterdir()}
    assert sum(n.endswith(".parquet") for n in modes) == 2
    assert set(modes.values()) == {0o644}
    assert stat.S_IMODE(out.stat().st_mode) == 0o755

    for mode, path in ((0o640, out / "_SUCCESS"), (0o1777, out)):
        fs.setPermission(hadoop_fs.Path(str(path)),
                         hadoop_fs.permission.FsPermission(f"{mode:o}"))
        assert stat.S_IMODE(path.stat().st_mode) == mode


def _counting_reads(monkeypatch):
    """Wrap zipimport._read_directory; returns the archives it reads."""
    import zipimport

    reads = []
    eager = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return eager(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def test_worker_zip_cache_rereads_only_changed_archives(tmp_path,
                                                         monkeypatch):
    """In a worker, importlib.invalidate_caches() re-reads a zip on sys.path
    only when it changed: an unchanged zip is not read, and a module added
    to a rewritten zip imports after the call."""
    import importlib
    import sys
    import types
    import zipimport

    from sparkdedup import zipcache

    # undo the install at teardown; pose as a pyspark worker meanwhile
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setitem(sys.modules, "pyspark.worker",
                        types.ModuleType("pyspark.worker"))
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_first": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zc_first", "zc_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import zc_first  # noqa: F401

    lazy = sys.version_info < (3, 12)  # later CPythons re-read lazily
    assert zipcache.install() == lazy
    assert zipcache.install() == lazy  # idempotent
    reads = _counting_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    if lazy:
        assert archive not in reads

    _write_zip(archive, {"zc_first": "X = 1\n", "zc_second": "Y = 2\n"})
    importlib.invalidate_caches()
    import zc_second
    assert zc_second.Y == 2


def test_driver_keeps_eager_invalidate_caches():
    """Outside a pyspark worker the stdlib zipimporter stays as it is."""
    import zipimport

    from sparkdedup import zipcache

    assert not zipcache.install()
    assert not getattr(zipimport.zipimporter.invalidate_caches,
                       "_sparkdedup_lazy", False)


def test_worker_tasks_do_not_reread_zips(spark):
    """A warm Python worker's per-task importlib.invalidate_caches() reads
    no zip directory (an eager zipimporter re-reads pyspark.zip and the
    spark-core jar, 12 or more reads, at the start of every task)."""
    def count_reads(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        import sparkdedup  # noqa: F401  (installs the worker set-up)

        reads = []
        eager = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or eager(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = eager
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"reads": [len(reads)]})

    df = spark.range(0, 16, numPartitions=4)
    df.mapInArrow(count_reads, "reads long").collect()
    second = [r.reads for r in
              df.mapInArrow(count_reads, "reads long").collect()]
    assert len(second) == 4 and set(second) == {0}, second
