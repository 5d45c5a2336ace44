"""PySpark worker daemon that imports PySpark from its unpacked install.

Spark starts the Python daemon with its own archives first on PYTHONPATH:
``pyspark.zip``, the py4j source zip and the spark-core jar. Every task's
``setup_spark_files()`` calls ``importlib.invalidate_caches()``, and before
Python 3.12 (CPython gh-103200) that makes each cached ``zipimporter`` re-read
its whole archive directory on every task, on reused workers too. When the
same pyspark and py4j are installed unpacked on the rest of the path, this
module drops the archives before it imports ``pyspark.daemon``, so no
zipimporter is left to refresh; otherwise the path stays as Spark set it. The
forked workers inherit the filtered path.

``session.get_spark`` selects it through ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder

_PACKAGES = ("pyspark", "py4j")


def _is_spark_archive(entry: str) -> bool:
    """True for the archives Spark puts on a worker's PYTHONPATH."""
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or (name.startswith("spark-core") and name.endswith(".jar"))
    )


def _archived_version(archives: list[str], pkg: str) -> bytes | None:
    for a in archives:
        try:
            with zipfile.ZipFile(a) as z:
                return z.read(f"{pkg}/version.py")
        except (OSError, KeyError, zipfile.BadZipFile):
            continue
    return None


def unpacked_path(path: list[str]) -> list[str]:
    """`path` without Spark's archives, if pyspark and py4j are still
    importable from what remains and match the archived copies' version
    files; otherwise `path` itself, unchanged."""
    archives = [p for p in path if _is_spark_archive(p)]
    if not archives:
        return path
    kept = [p for p in path if p not in archives]
    for pkg in _PACKAGES:
        spec = PathFinder.find_spec(pkg, kept)
        if spec is None or not spec.submodule_search_locations:
            return path
        try:
            with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as f:
                unpacked = f.read()
        except OSError:
            return path
        archived = _archived_version(archives, pkg)
        if archived is not None and archived != unpacked:
            return path
    return kept


def use_unpacked_path() -> None:
    """Apply `unpacked_path` to sys.path and evict the importers cached for
    the dropped archives (and for package directories inside them)."""
    kept = unpacked_path(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    use_unpacked_path()
    from pyspark import daemon

    daemon.manager()
