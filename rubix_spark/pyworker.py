"""Spark's Python worker daemon, run against the installed pyspark instead of Spark's zips.

Spark starts its Python workers with ``pyspark.zip``, the py4j zip and the spark-core
jar at the head of ``sys.path``. Every Python task calls
``pyspark.worker_util.setup_spark_files``, whose ``importlib.invalidate_caches()``
makes each zipimporter re-read its archive's whole directory (1,328 entries in
pyspark.zip, 5,359 in the jar): 0.16-0.21 s of CPU per task on a 4-core host, in
reused workers too (docs/PROBES.md). ``session.get_session`` registers this module as
``spark.python.daemon.module``. It drops every non-directory entry from ``sys.path``
and ``sys.path_importer_cache`` before pyspark is imported, then runs
``pyspark.daemon.manager()``; the forked workers import the installed packages and
have no archive to re-read.

The path stays as Spark built it when the installed pyspark or py4j cannot be found,
or when the installed ``pyspark/version.py`` differs from the one inside an archive
it would replace.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def worker_path(path: list[str]) -> list[str]:
    """``path`` without its archives when the installed pyspark can stand in for
    them, else ``path`` unchanged."""
    dirs = [p for p in path if os.path.isdir(p or ".")]
    if len(dirs) == len(path):
        return path
    specs = [PathFinder.find_spec(name, dirs) for name in ("pyspark", "py4j")]
    if None in specs or specs[0].origin is None:  # absent, or a bare namespace dir
        return path
    try:
        with open(os.path.join(os.path.dirname(specs[0].origin), "version.py"), "rb") as f:
            installed = f.read()
    except OSError:
        return path
    for archive in path:
        if archive in dirs:
            continue
        try:
            with zipfile.ZipFile(archive) as z:
                bundled = z.read("pyspark/version.py")
        except (OSError, KeyError, zipfile.BadZipFile):
            continue  # no pyspark inside (the py4j zip, the jar) or no file at all
        if bundled != installed:
            return path
    return dirs


if __name__ == "__main__":
    kept = worker_path(sys.path)
    for entry in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = kept

    from pyspark.daemon import manager

    manager()
