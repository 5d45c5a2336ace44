"""Python worker daemon: workers import PySpark from the unpacked install,
and the path filter leaves the path alone whenever it cannot."""

from __future__ import annotations

import os
import zipfile

import pandas as pd
import pytest

from aira_spark import session
from aira_spark.pydaemon import unpacked_path


def test_worker_imports_pyspark_unpacked(spark):
    import pyspark

    if not os.path.isfile(pyspark.__file__):
        pytest.skip("no unpacked pyspark installed")
    if not session._workers_import_engine():
        pytest.skip("workers cannot import the engine from this directory")
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == "aira_spark.pydaemon"

    def probe(batches):
        import sys
        import zipimport

        import pyspark as worker_pyspark

        for _ in batches:
            zips = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
            yield pd.DataFrame({"file": [worker_pyspark.__file__], "zips": [zips]})

    (row,) = spark.range(0, 1, numPartitions=1).mapInPandas(probe, "file string, zips long").collect()
    assert os.path.isfile(row["file"]), row["file"]
    assert row["zips"] == 0


def _package(root, name: str, version: bytes) -> None:
    os.makedirs(root / name)
    (root / name / "__init__.py").write_bytes(b"")
    (root / name / "version.py").write_bytes(version)


def _archive(path, name: str, version: bytes) -> str:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}/__init__.py", b"")
        z.writestr(f"{name}/version.py", version)
    return str(path)


def _spark_path(tmp_path, pyspark_version: bytes = b"v = '4'\n") -> list[str]:
    lib = tmp_path / "lib"
    os.makedirs(lib)
    return [
        str(tmp_path / "cwd"),
        _archive(lib / "pyspark.zip", "pyspark", pyspark_version),
        _archive(lib / "py4j-0.10.9.9-src.zip", "py4j", b"v = '0.10'\n"),
        str(lib / "spark-core_2.13-4.1.2.jar"),
        str(tmp_path / "site"),
    ]


def test_unpacked_path_drops_spark_archives(tmp_path):
    path = _spark_path(tmp_path)
    _package(tmp_path / "site", "pyspark", b"v = '4'\n")
    _package(tmp_path / "site", "py4j", b"v = '0.10'\n")
    assert unpacked_path(path) == [path[0], path[-1]]


def test_unpacked_path_unchanged_without_unpacked_pyspark(tmp_path):
    path = _spark_path(tmp_path)
    _package(tmp_path / "site", "py4j", b"v = '0.10'\n")
    assert unpacked_path(path) == path


def test_unpacked_path_unchanged_on_version_mismatch(tmp_path):
    path = _spark_path(tmp_path, pyspark_version=b"v = '3'\n")
    _package(tmp_path / "site", "pyspark", b"v = '4'\n")
    _package(tmp_path / "site", "py4j", b"v = '0.10'\n")
    assert unpacked_path(path) == path


def test_unpacked_path_without_archives_is_identity():
    path = ["/a", "/b/site-packages"]
    assert unpacked_path(path) is path
