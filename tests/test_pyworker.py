"""Python worker entry module: which archives leave the worker's sys.path."""

from __future__ import annotations

import os
import zipfile

import pytest

from flink_realtime_data_eng_spark import pyworker, session

_ARCHIVES = ["spark/python/lib/pyspark.zip",
             "spark/python/lib/py4j-0.10.9.9-src.zip",
             "spark/jars/spark-core_2.13-4.1.2.jar"]


def _synthetic_path(tmp_path, site_pkgs: tuple[str, ...]) -> list[str]:
    """Spark's three archives, a user ``deps.zip``, a look-alike archive
    name and a site dir holding ``site_pkgs`` as packages."""
    archives = [str(tmp_path / a) for a in _ARCHIVES]
    for a in archives:
        os.makedirs(os.path.dirname(a), exist_ok=True)
        open(a, "wb").close()
    deps = tmp_path / "deps.zip"
    with zipfile.ZipFile(deps, "w") as z:
        z.writestr("deps_mod.py", "")
    site = tmp_path / "site"
    for pkg in site_pkgs:
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
    return [archives[0], archives[1], str(tmp_path / "mypyspark.zip"),
            str(deps), archives[2], str(site)]


def test_worker_path_drops_only_spark_archives(tmp_path):
    path = _synthetic_path(tmp_path, ("pyspark", "py4j"))
    assert pyworker.worker_path(path) == [
        str(tmp_path / "mypyspark.zip"), str(tmp_path / "deps.zip"),
        str(tmp_path / "site")]


@pytest.mark.parametrize("site_pkgs", [(), ("pyspark",), ("py4j",)])
def test_worker_path_keeps_archives_when_pyspark_resolves_nowhere_else(
        tmp_path, site_pkgs):
    path = _synthetic_path(tmp_path, site_pkgs)
    assert pyworker.worker_path(path) == path


def test_worker_daemon_conf_only_where_workers_import_the_package(
        tmp_path, monkeypatch):
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    want = {"spark.python.daemon.module":
            "flink_realtime_data_eng_spark.pyworker"}
    monkeypatch.setenv("PYTHONPATH", "")
    monkeypatch.chdir(root)
    assert session._worker_daemon_conf("local[4]") == want
    assert session._worker_daemon_conf("spark://host:7077") == {}
    monkeypatch.chdir(tmp_path)
    assert session._worker_daemon_conf("local[4]") == {}
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert session._worker_daemon_conf("local[4]") == want


def test_session_workers_import_installed_pyspark(spark):
    import pandas as pd

    def probe(batches):
        import sys
        import zipimport

        import pyspark
        for _ in batches:
            pass
        spark_zips = [v for v in sys.path_importer_cache.values()
                      if isinstance(v, zipimport.zipimporter)
                      and pyworker._SPARK_ARCHIVE.search(v.archive)]
        yield pd.DataFrame({"file": [pyspark.__file__],
                            "spark_zips": [len(spark_zips)]})

    row = spark.range(1, numPartitions=1).mapInPandas(
        probe, "file string, spark_zips long").collect()[0]
    assert os.path.isfile(row["file"]), row["file"]
    assert row["spark_zips"] == 0
