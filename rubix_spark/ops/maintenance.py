"""Table maintenance: small-file compaction.

The small-files problem is the quiet killer of 100 TB scan performance (this repo
measured it twice: round-1 warm copies fragmented into 32 part-files made cache hits
as slow as remote reads; a single-row-group file capped a scan at one task). Streaming
sinks, incremental upserts, and per-partition writers all produce it. ``compact``
rewrites a parquet table directory into part files sized for scan parallelism — the
OPTIMIZE/rewrite_data_files job of the lakehouse formats, on plain parquet.

Scale shape: ONE distributed read + one distributed write; the row count comes from
the new files' parquet footers (free), never a second scan, and the only coordination
is choosing the output file count from input bytes (driver-side arithmetic on file
metadata, no data through the driver).

Swap semantics (honest statement): the new data is written to a temp dir and swapped
in with two renames. Each rename is atomic, but the pair is not — a reader that lists
the path in the instant between them sees a missing directory, and a crash between
them leaves the table recoverable under the ``._old_`` name. Single-writer,
no-concurrent-reader maintenance windows (how OPTIMIZE jobs are scheduled) are the
intended deployment; for always-on readers, the cache layer's generation-CAS manifest
(``cache/manifest.py``) is the tool — it keeps the previous generation alive under a
grace period.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, SparkSession

from rubix_spark.cache.footer import file_meta, parquet_files


def _invalidate_memo(spark: SparkSession, path: str) -> None:
    """Evict catalog.table's memoized DataFrame for the swapped path (its cached file
    index points at the deleted part files) and refresh Spark's own path caches."""
    memo = getattr(spark, "_rubix_table_memo", None)
    if memo:
        norm = path.rstrip("/")
        sf_dir, base = os.path.split(norm)
        name = base[:-8] if base.endswith(".parquet") else base
        memo.pop((sf_dir.rstrip("/"), name), None)
    try:
        spark.catalog.refreshByPath(path)
    except Exception:
        pass  # path not referenced by any cached relation yet


def compact(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    sort_within_by: str | Column | None = None,
) -> dict:
    """Rewrite the parquet table at ``path`` into ceil(bytes / target) part files.

    ``sort_within_by``: optional column name OR expression (e.g. ``zorder_key(...)``)
    to sortWithinPartitions on — clusters row groups for predicate pushdown.

    Returns {files_before, files_after, bytes, rows}.
    """
    before = parquet_files(path)  # [path] for a single-file table
    n_bytes = sum(os.path.getsize(f) for f in before)
    n_out = max(1, -(-n_bytes // (target_file_mb * 1024 * 1024)))
    out = spark.read.parquet(path).repartition(n_out)
    if sort_within_by is not None:
        out = out.sortWithinPartitions(sort_within_by)
    tmp = f"{path.rstrip('/')}._compact_{uuid.uuid4().hex[:8]}"
    try:
        out.write.mode("overwrite").parquet(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    old = f"{path.rstrip('/')}._old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except BaseException:
        os.rename(old, path)  # roll the original back so the table never vanishes
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        shutil.rmtree(old) if os.path.isdir(old) else os.remove(old)
    except OSError as e:  # non-fatal: table is live; backup just lingers
        import warnings

        warnings.warn(f"compact(): backup {old} not removed ({e}); delete manually")
    _invalidate_memo(spark, path)
    after = parquet_files(path)
    return {
        "files_before": len(before),
        "files_after": len(after),
        "bytes": n_bytes,
        "rows": sum(sum(file_meta(f).rows) for f in after),
    }


def zorder_key(c1, c2, bits: int = 16):
    """Morton/Z-order interleave of the low ``bits`` bits of two non-negative int
    columns — the multi-column clustering key behind OPTIMIZE ZORDER: sorting by it
    gives row groups bounded min/max spans in BOTH dimensions, so parquet stats prune
    scans filtered on either column. Pure JVM bit arithmetic (shift/and/or), constant-
    folded into one codegen'd expression; pass the result to
    ``compact(sort_within_by=...)``.

    RANGE CONTRACT: bits above ``bits`` are DROPPED — values differing only in high
    bits collide into the same key (e.g. bits=8 aliases every 256), silently degrading
    clustering. Size ``bits`` >= ceil(log2(max value)), or pre-bucket wide/unbounded
    columns first (rank, ntile, quantile bucket) so the domain fits ``bits`` bits.
    """
    from pyspark.sql import functions as F

    a = F.col(c1) if isinstance(c1, str) else c1
    b = F.col(c2) if isinstance(c2, str) else c2
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = (
            key.bitwiseOR(F.shiftleft(F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1))
            .bitwiseOR(F.shiftleft(F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i))
        )
    return key
