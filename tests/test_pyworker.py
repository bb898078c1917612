"""The Python worker daemon of a ``get_spark`` session: workers import the
installed PySpark with no zipimporter left to re-read an archive on every
task, and ``pyworker.installed_path`` drops the archives only when that is
safe."""

from __future__ import annotations

import zipfile

import pytest

from kafka_spark_streaming_eval_spark.pyworker import installed_path


def _outside_archives(path: str) -> bool:
    return not any(part.endswith((".zip", ".jar")) for part in path.split("/"))


def test_rdd_and_mapinpandas_workers_import_installed_pyspark(spark):
    def imports():
        """(zipimporters in the worker's importer cache, its ``pyspark.__file__``)."""
        import sys
        import zipimport

        import pyspark

        cache = sys.path_importer_cache.values()
        return sum(isinstance(v, zipimport.zipimporter) for v in cache), pyspark.__file__

    def report(it):
        import pandas as pd

        for _ in it:
            pass
        n, f = imports()
        yield pd.DataFrame({"n": [n], "f": [f]})

    (n, f), = spark.sparkContext.parallelize([0], 1).map(lambda _: imports()).collect()
    assert n == 0 and _outside_archives(f), (n, f)
    rows = spark.range(0, 2, 1, 2).mapInPandas(report, "n long, f string").collect()
    assert len(rows) == 2
    for r in rows:
        assert r.n == 0 and _outside_archives(r.f), r


def _package(root, name: str, version: str | None = None) -> None:
    (root / name).mkdir(parents=True)
    (root / name / "__init__.py").write_text("")
    if version:
        (root / name / "version.py").write_text(f"__version__: str = '{version}'\n")


def _archive(path, name: str, version: str | None = None) -> str:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}/__init__.py", "")
        if version:
            z.writestr(f"{name}/version.py", f'__version__ = "{version}"\n')
    return str(path)


@pytest.mark.parametrize(
    "installed, zipped_version, dropped",
    [
        (("pyspark", "py4j"), "4.1.2", True),
        (("py4j",), "4.1.2", False),  # pyspark only in the archive
        (("pyspark",), "4.1.2", False),  # py4j only in the archive
        (("pyspark", "py4j"), "4.1.1", False),  # versions differ
    ],
)
def test_installed_path_choice(tmp_path, installed, zipped_version, dropped):
    site = tmp_path / "site"
    site.mkdir()
    for name in installed:
        _package(site, name, "4.1.2" if name == "pyspark" else None)
    archives = [
        _archive(tmp_path / "pyspark.zip", "pyspark", zipped_version),
        _archive(tmp_path / "py4j-src.zip", "py4j"),
        _archive(tmp_path / "spark-core.jar", "org"),
    ]
    path = [str(site), *archives]
    assert installed_path(path) == ([str(site)] if dropped else path)
