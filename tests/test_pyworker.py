"""Python workers start from the installed pyspark (``pyworker``).

- the path choice, Spark-free: Spark's archives leave ``sys.path`` and
  ``sys.path_importer_cache`` only when an installed pyspark of the zipped
  version and an installed py4j can replace them; otherwise nothing moves;
- on the session: a pandas task imports the installed pyspark and holds no
  archive on its path and no ``zipimporter``;
- sessions only name the daemon module when their workers can import
  the package: from the repository root, or with it on ``PYTHONPATH``;
- the package ``__init__`` (imported first by ``python -m``) stays
  pyspark-free.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest

from stateful_spark_streaming_spark.pyworker import prune_spark_archives
from stateful_spark_streaming_spark.session import _workers_find_package

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VERSION = b"__version__: str = '4.1.2'\n"


def _zip(path, members):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return str(path)


def _package(site, name, files):
    (site / name).mkdir(parents=True)
    for fname, data in {"__init__.py": b"", **files}.items():
        (site / name / fname).write_bytes(data)


def _worker_path(tmp_path, installed=VERSION, pyspark=True, py4j=True):
    """A worker ``sys.path`` as Spark builds it: the cwd and the job's files
    dir, Spark's three archives, a user zip, then site-packages."""
    lib = tmp_path / "spark" / "python" / "lib"
    site = tmp_path / "site"
    site.mkdir()
    if pyspark:
        _package(site, "pyspark", {"version.py": installed})
    if py4j:
        _package(site, "py4j", {})
    for d in ("work", "userFiles"):
        (tmp_path / d).mkdir()
    return [
        str(tmp_path / "work"),
        str(tmp_path / "userFiles"),
        _zip(lib / "pyspark.zip", {"pyspark/__init__.py": b"", "pyspark/version.py": VERSION}),
        _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": b""}),
        _zip(tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar", {"org/A.class": b""}),
        _zip(tmp_path / "deps.zip", {"dep.py": b""}),
        str(site),
    ]


def test_matching_versions_drop_spark_archives_and_their_importers(tmp_path):
    path = _worker_path(tmp_path)
    cache = {p: object() for p in path}
    kept = [path[0], path[1], path[5], path[6]]
    prune_spark_archives(path, cache)
    assert path == kept
    assert list(cache) == kept


@pytest.mark.parametrize(
    "layout",
    [
        {"installed": b"__version__: str = '4.0.1'\n"},
        {"pyspark": False},
        {"py4j": False},
    ],
    ids=["version-differs", "no-installed-pyspark", "no-installed-py4j"],
)
def test_path_unchanged_without_a_matching_install(tmp_path, layout):
    path = _worker_path(tmp_path, **layout)
    before = list(path)
    cache = {p: object() for p in path}
    cached = dict(cache)
    prune_spark_archives(path, cache)
    assert path == before
    assert cache == cached


def test_workers_import_installed_pyspark_without_spark_archives(spark):
    def report(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        archives = [p for p in sys.path if p.endswith((".zip", ".jar")) and os.path.isfile(p)]
        zipimporters = sum(
            isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values()
        )
        yield pd.DataFrame(
            {"pyspark": [pyspark.__file__], "archives": [archives], "zipimporters": [zipimporters]}
        )

    import pyspark

    rows = (
        spark.range(4, numPartitions=4)
        .mapInPandas(report, "pyspark string, archives array<string>, zipimporters int")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r.pyspark == pyspark.__file__
        assert r.archives == []
        assert r.zipimporters == 0


def test_daemon_module_only_where_workers_find_the_package(tmp_path, monkeypatch):
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(REPO)
    assert _workers_find_package()
    monkeypatch.chdir(tmp_path)
    assert not _workers_find_package()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), REPO]))
    assert _workers_find_package()


_IMPORT_PACKAGE = """
import sys
import stateful_spark_streaming_spark
print(sorted(m for m in sys.modules if m.split(".")[0] in ("pyspark", "py4j")))
"""


def test_package_init_does_not_import_pyspark():
    r = subprocess.run(
        [sys.executable, "-c", _IMPORT_PACKAGE],
        cwd=REPO, capture_output=True, text=True, timeout=60,
    )
    assert r.returncode == 0, r.stderr
    assert r.stdout.strip() == "[]"
