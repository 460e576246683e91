"""Spark's Python workers run from ``rubix_spark.pyworker``: the installed pyspark stands
in for Spark's zips, so no task re-reads a zip directory; any doubt keeps Spark's path."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pandas as pd
import pytest

from rubix_spark.pyworker import worker_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VERSION = b"__version__: str = '4.1.2'\n"


def _package(root, name: str, version: bytes | None = None) -> None:
    (root / name).mkdir(parents=True)
    (root / name / "__init__.py").write_text("")
    if version is not None:
        (root / name / "version.py").write_bytes(version)


def _zip(path, members: dict[str, bytes]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, data in members.items():
            z.writestr(name, data)
    return str(path)


@pytest.fixture
def spark_path(tmp_path):
    """Spark's worker path shape: pyspark zip, py4j zip and a jar, then a site dir."""
    site = tmp_path / "site"
    site.mkdir()
    archives = [
        _zip(tmp_path / "pyspark.zip", {"pyspark/__init__.py": b"", "pyspark/version.py": VERSION}),
        _zip(tmp_path / "py4j-src.zip", {"py4j/__init__.py": b""}),
        _zip(tmp_path / "spark-core.jar", {"META-INF/MANIFEST.MF": b""}),
    ]
    return site, archives + [str(site)]


def test_archives_dropped_when_installed_version_matches(spark_path):
    site, path = spark_path
    _package(site, "pyspark", VERSION)
    _package(site, "py4j")
    assert worker_path(path) == [str(site)]


@pytest.mark.parametrize("missing", ["pyspark", "py4j"])
def test_path_kept_when_a_package_is_not_installed(spark_path, missing):
    site, path = spark_path
    for name in {"pyspark", "py4j"} - {missing}:
        _package(site, name, VERSION if name == "pyspark" else None)
    assert worker_path(path) == path


def test_path_kept_when_installed_version_differs(spark_path):
    site, path = spark_path
    _package(site, "pyspark", b"__version__: str = '4.0.0'\n")
    _package(site, "py4j")
    assert worker_path(path) == path


def test_worker_imports_installed_pyspark(spark):
    """From inside a Python task: pyspark comes from outside any zip, and no
    zipimporter is left for ``importlib.invalidate_caches()`` to refresh."""
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def worker_state(s: pd.Series) -> pd.Series:
        import sys as worker_sys

        import pyspark

        kinds = sorted({type(v).__name__ for v in worker_sys.path_importer_cache.values()})
        return s.map(lambda _: "|".join([pyspark.__file__, *kinds]))

    origin, *kinds = spark.range(1).select(worker_state("id")).collect()[0][0].split("|")
    assert ".zip" not in origin
    assert "zipimporter" not in kinds


def test_daemon_module_only_where_a_worker_can_import_it(monkeypatch, tmp_path):
    from rubix_spark.session import static_confs

    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(REPO)
    assert static_confs()["spark.python.daemon.module"] == "rubix_spark.pyworker"
    monkeypatch.chdir(tmp_path)  # the worker's cwd no longer holds the package
    assert "spark.python.daemon.module" not in static_confs()


def test_package_import_is_lazy():
    """``python -m rubix_spark.pyworker`` must run before pyspark is imported, and
    ``from rubix_spark import get_session`` still works."""
    script = (
        "import sys, rubix_spark\n"
        "assert 'pyspark' not in sys.modules\n"
        "from rubix_spark import get_session\n"
        "from rubix_spark.session import get_session as direct\n"
        "assert get_session is direct\n"
    )
    proc = subprocess.run([sys.executable, "-c", script], cwd=REPO, capture_output=True, text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr[-2000:]
