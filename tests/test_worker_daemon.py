"""Spark's Python workers start from gofaiss_spark.worker_daemon: the
zip directories of their start-up archives are read once, not before
every task, while a zip added at run time stays importable."""

import os
import sys
import zipfile

import pytest

from gofaiss_spark import session
from gofaiss_spark.session import _workers_import_package

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))


def test_startup_archives_not_reread_per_task(spark):
    def invalidate_and_count(_):
        """Inside a task: run the invalidation PySpark runs before every
        task and report the start-up archives it re-read."""
        import importlib
        import sys
        import zipimport

        import pyspark
        from pyspark import SparkFiles

        added = SparkFiles.getRootDirectory()  # addPyFile zips land here
        startup_zips = [f for f in sys.path_importer_cache.values()
                        if isinstance(f, zipimport.zipimporter)
                        and not f.archive.startswith(added)]
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield (len(startup_zips),
               [p for p in reads if not p.startswith(added)],
               pyspark.__file__)

    sc = spark.sparkContext
    for _ in range(2):  # the second job runs in reused workers
        out = sc.parallelize(range(4), 4).mapPartitions(
            invalidate_and_count).collect()
        for n_zips, reread, pyspark_file in out:
            assert n_zips > 0  # the workers do import from archives
            assert reread == []
            assert "pyspark.zip" in pyspark_file


def test_add_py_file_zip_importable_in_task(spark, tmp_path):
    archive = tmp_path / "scope_probe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("gfs_scope_probe.py", "VALUE = 41\n")
    sc = spark.sparkContext
    sc.addPyFile(str(archive))

    def use(_):
        import gfs_scope_probe

        yield gfs_scope_probe.VALUE + 1

    assert sc.parallelize(range(4), 4).mapPartitions(use).collect() == [42] * 4


@pytest.fixture
def elsewhere(tmp_path, monkeypatch):
    """A cwd, PYTHONPATH and site-packages none of which hold the
    package, with the workers running this interpreter."""
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    monkeypatch.setenv("PYSPARK_PYTHON", sys.executable)
    monkeypatch.setattr(session.site, "getsitepackages", lambda: [])
    monkeypatch.setattr(session.site, "getusersitepackages",
                        lambda: str(tmp_path / "user"))
    return monkeypatch


def test_daemon_rule_package_nowhere(elsewhere):
    assert not _workers_import_package("local[4]")


def test_daemon_rule_package_in_cwd(elsewhere):
    elsewhere.chdir(ROOT)
    assert _workers_import_package("local[4]")
    assert _workers_import_package("local")


def test_daemon_rule_package_on_pythonpath(elsewhere, tmp_path):
    elsewhere.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), ROOT]))
    assert _workers_import_package("local[*]")


def test_daemon_rule_package_installed(elsewhere):
    elsewhere.setattr(session.site, "getsitepackages", lambda: [ROOT])
    assert _workers_import_package("local[2]")
    # installed for this interpreter only: workers running another
    # one would not see it
    elsewhere.setenv("PYSPARK_PYTHON", "/nonexistent/python3")
    assert not _workers_import_package("local[2]")


@pytest.mark.parametrize("master", ["spark://host:7077", "yarn",
                                    "k8s://https://host:443",
                                    "local-cluster[2,1,1024]"])
def test_daemon_rule_not_local(elsewhere, master):
    elsewhere.chdir(ROOT)
    elsewhere.setenv("PYTHONPATH", ROOT)
    assert not _workers_import_package(master)
