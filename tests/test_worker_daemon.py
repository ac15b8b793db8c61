"""Zip-free Python workers: the daemon module's path rewrite, Spark-free,
and the workers the test session's daemon starts."""

import os
import zipfile
from importlib import metadata

import pytest

import blackedge_worker_daemon as worker_daemon
from blackedge_ocr_spark.session import DAEMON_MODULE, daemon_conf

SITE = str(metadata.distribution("pyspark").locate_file(""))


def _spark_path(tmp_path, version: str) -> list[str]:
    """A worker-shaped path: Spark's archives first, then site-packages."""
    lib = tmp_path / "lib"
    lib.mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    return [
        str(tmp_path),
        str(lib / "pyspark.zip"),
        str(lib / "py4j-0.10.9.9-src.zip"),
        str(lib / "spark-core_2.13.jar"),
        SITE,
    ]


def _cache(path: list[str]) -> dict:
    cache = {p: object() for p in path}
    cache[path[1] + os.sep + "pyspark"] = object()
    return cache


def test_matching_versions_drop_archives_and_their_importers(tmp_path):
    path = _spark_path(tmp_path, metadata.version("pyspark"))
    cache = _cache(path)
    assert worker_daemon.drop_spark_archives(path, cache)
    assert path == [str(tmp_path), SITE]
    assert set(cache) == {str(tmp_path), SITE}


@pytest.mark.parametrize("case", ["version mismatch", "no installed pyspark", "no zip"])
def test_path_is_left_alone(tmp_path, case):
    path = _spark_path(tmp_path, "0.0.0" if case == "version mismatch" else
                       metadata.version("pyspark"))
    if case == "no installed pyspark":
        path.remove(SITE)
    if case == "no zip":
        path = [p for p in path if not p.endswith(".zip")]
    cache = _cache(path)
    before_path, before_cache = list(path), dict(cache)
    assert not worker_daemon.drop_spark_archives(path, cache)
    assert path == before_path and cache == before_cache


def test_daemon_module_only_for_a_local_master():
    assert daemon_conf("spark://127.0.0.1:7077") == {}
    assert daemon_conf("local-cluster[2,1,1024]") == {}
    conf = daemon_conf("local[4]")
    assert conf["spark.python.daemon.module"] == DAEMON_MODULE
    root = conf["spark.executorEnv.PYTHONPATH"]
    assert os.path.isfile(os.path.join(root, DAEMON_MODULE + ".py"))


def test_workers_import_the_installed_pyspark(spark):
    """One task reports its pyspark and its zipimporters: with the
    zip's version installed, the worker imported the installed copy and
    holds no zipimporter for ``invalidate_caches()`` to re-read."""
    spark_home = os.environ.get("SPARK_HOME", "")
    zip_path = os.path.join(spark_home, "python", "lib", "pyspark.zip")
    if worker_daemon._zip_version(zip_path) != metadata.version("pyspark"):
        pytest.skip("Spark's pyspark.zip is not the installed pyspark's version")
    assert spark.conf.get("spark.python.daemon.module") == DAEMON_MODULE

    def probe(_):
        import sys
        import zipimport

        import pyspark

        cached = sys.path_importer_cache.values()
        yield pyspark.__file__, sum(isinstance(f, zipimport.zipimporter) for f in cached)

    file, n_zip = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()[0]
    assert ".zip" not in file
    assert n_zip == 0
