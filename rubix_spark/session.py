"""SparkSession builder.

Tuned for the driver harness (local[N], 128 GiB box) but every knob is chosen for how it
scales on a real cluster:

- AQE on: runtime re-plan picks broadcast joins, coalesces small shuffle partitions, and
  splits skewed ones — the same settings that matter at 100 TB.
- ``spark.sql.shuffle.partitions`` default 8 for local tests (task-scheduling overhead
  dominates at <1 GB); on a 1000-executor cluster AQE's coalescing makes a high static
  value safe, so we only pin it down for local runs.
- Arrow enabled: all Pandas-UDF paths (ops.udf, ops.multimodal, ops.dedup) move data in
  Arrow batches, not pickled rows.
- Session timezone UTC so timestamp functions agree with the DuckDB oracle.
- Python workers start from ``rubix_spark.pyworker`` (``spark.python.daemon.module``):
  they import the installed pyspark instead of ``pyspark.zip``, so a task no longer
  spends ~0.2 s of CPU re-reading the zips' directories. The conf is static;
  ``static_confs()`` lists the confs that must ride the launch SparkConf.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession


def static_confs() -> dict[str, str]:
    """The launch-only confs: ``spark.conf.set`` refuses them on a running session, so
    every builder of a timed session (this module, ``tools/time_query.py``) passes
    exactly these, or its timings drift from the bench's."""
    confs = {
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "spark.ui.enabled": "false",
        # 100-entry default codegen class cache thrashes on multi-query sessions:
        # each re-run then re-compiles (Janino) and re-JITs the plan's generated
        # classes (catalog.ensure_session_confs doc for the sf10 measurements)
        "spark.sql.codegen.cache.maxEntries": "5000",
        # managed tables (bucketing tests/demos) live outside the repo tree
        "spark.sql.warehouse.dir": os.environ.get("RUBIX_WAREHOUSE_DIR", "/tmp/rubix_spark_warehouse"),
    }
    if _worker_imports_package():
        # Python workers import the installed pyspark, not Spark's zips, and stop
        # re-reading the zips' directories on every task (rubix_spark/pyworker.py)
        confs["spark.python.daemon.module"] = "rubix_spark.pyworker"
    return confs


def _worker_imports_package() -> bool:
    """Whether a Python worker started by this process can import ``rubix_spark``.

    A worker's path is its working directory (the driver's), ``$PYTHONPATH`` and
    site-packages; a daemon module it cannot import would fail every Python task,
    where Spark's own daemon only fails the tasks whose functions need the package.
    """
    root = os.path.realpath(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep), *site.getsitepackages()]
    return root in {os.path.realpath(p) for p in paths if p}


def get_session(
    app_name: str = "rubix-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` then ``*``. ``shuffle_partitions`` defaults
    to the core count so local shuffles neither starve nor over-split.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        # Local-mode default: few, fat partitions — at <1 GB inputs, task-scheduling
        # overhead dominates and 8 beats 32 by ~25% (measured). On a real cluster size
        # this to ~data_size / 128MB (or rely on a high value + AQE coalescing); AQE can
        # merge partitions but never split an under-partitioned shuffle.
        shuffle_partitions = int(os.environ.get("RUBIX_SHUFFLE_PARTITIONS", "8"))

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the events fixture stores TIMESTAMP(NANOS) which Spark's parquet reader rejects;
        # read as int64 nanos and convert in the catalog (all fixture values are µs-aligned)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in {**static_confs(), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
