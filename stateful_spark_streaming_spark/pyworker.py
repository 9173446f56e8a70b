"""Python worker daemon of the local sessions ``get_spark`` builds
(``spark.python.daemon.module``); it runs before anything imports pyspark.

Spark puts ``pyspark.zip``, the py4j source zip and the spark-core jar in
front of every worker's ``sys.path``.  Each task's
``importlib.invalidate_caches()`` then re-reads an archive's central
directory for every cached ``zipimporter`` (CPython 3.11): ~18 per worker,
a median 280 ms of CPU per task.  When an installed pyspark of the zip's
version and an installed py4j can stand in, the archives and their
importers go; otherwise the path stays as Spark built it.  Then
``pyspark.daemon`` runs as Spark would run it.
"""

from __future__ import annotations

import fnmatch
import os
import runpy
import sys
import zipfile


def _spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip" or fnmatch.fnmatch(name, "py4j-*-src.zip") or name.endswith(".jar")
    )


def _installed(path: list[str], package: str) -> str | None:
    """The first directory on ``path`` holding ``package``, as its package dir."""
    for entry in path:
        pkg = os.path.join(entry, package)
        if os.path.isfile(os.path.join(pkg, "__init__.py")):
            return pkg
    return None


def prune_spark_archives(path: list[str], importer_cache: dict) -> None:
    """Drop Spark's archives from ``path`` (in place, the other entries keep
    their order) and their importers from ``importer_cache``, if an installed
    pyspark of the zipped version and an installed py4j can replace them."""
    archives = [p for p in path if _spark_archive(p)]
    zips = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    rest = [p for p in path if p not in archives]
    pyspark = _installed(rest, "pyspark")
    if not zips or pyspark is None or _installed(rest, "py4j") is None:
        return
    try:
        with zipfile.ZipFile(zips[0]) as zf:
            zipped = zf.read("pyspark/version.py")
        with open(os.path.join(pyspark, "version.py"), "rb") as f:
            installed = f.read()
    except (OSError, KeyError, zipfile.BadZipFile):
        return
    if installed != zipped:
        return
    path[:] = rest
    for p in archives:
        importer_cache.pop(p, None)


if __name__ == "__main__":
    prune_spark_archives(sys.path, sys.path_importer_cache)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
