"""``rubix_cache`` — a Spark Python Data Source that reads through the cache layer.

This is the literal "Spark data source integration for caching" the charter names
(BASELINE.json ``spark_approach``): after ``register_cache_source(spark, cache_dir)``,

    spark.read.format("rubix_cache").option("path", remote_path).load()

resolves the path at *plan time* through ``CacheManager.resolve``, the same hit/miss
decision as ``CacheManager.read`` (hit → the warmed local copy, miss → read-through warm,
stale → invalidate + re-warm, local copy gone → invalidate + re-warm — all A2/A5/A6/A16
semantics), then scans whatever copy won as Arrow record batches, one input partition
per parquet row-group for parallelism. The manager lives in the planning worker, so its
counters are that worker's, not the driver's.

Scan-side optimizations (the parts a 100 TB deployment cares about):

- **Filter pushdown** (``pushFilters``, Spark 4.1 DS API): conjunctive predicates on
  top-level columns prune entire row groups via parquet min/max statistics at planning
  time and pre-filter Arrow batches executor-side. All pushed filters are also returned
  to Spark as residuals (the API's "partially pushed" contract), so Spark re-applies
  them — correctness never depends on the source's filtering.
- **Column projection** via ``.option("columns", "a,b")``: the Python DS API has no
  column-pruning pushdown yet, so callers that know their projection pass it explicitly
  and only those parquet column chunks are decoded and shipped through Arrow.
- **Metadata memoization**: parquet footers (row-group count/stats, schema) come from
  the cache layer's footer cache (``cache/footer.py``, one version per path, keyed by
  mtime and size), so repeated scans of a warmed file skip the footer read entirely.

Reference parity: this is the ``CachingFileSystem.open()`` seam
(``rubix-core/.../CachingFileSystem.java:227-260``) expressed as a DataSource instead of
a Hadoop FileSystem shim — the engine's scan API is the integration point in both
designs. Locality note: partition→row-group mapping is where ``preferredLocations`` from
``cache/ring.py`` plugs in on a real cluster (the Python DS API doesn't expose it yet, so
the local build relies on Spark's default placement; the JVM shim in ``cache/jvm`` is the
supported locality path).
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

from rubix_spark.cache.footer import file_meta

_MANAGERS: dict[str, object] = {}


def _manager(cache_dir: str):
    """One sessionless CacheManager per cache_dir.

    DataSource planning runs in a dedicated python worker with no SparkSession, so the
    manager operates in sessionless mode: warm() is a local file copy there (manifest /
    generation / staleness semantics unchanged).
    """
    if cache_dir not in _MANAGERS:
        from rubix_spark.cache.manager import CacheManager

        _MANAGERS[cache_dir] = CacheManager(None, cache_dir)
    return _MANAGERS[cache_dir]


def _resolve(options: dict) -> str:
    """Plan-time path resolution through the cache (read-through warm on miss)."""
    return _manager(options.get("cache_dir", "/tmp/rubix_spark_cache/ds")).resolve(options["path"])


def _parquet_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.parquet")))
    return [path]


def _normalize_schema(schema):
    """Spark's Arrow bridge accepts only µs timestamps; retime ms/ns fields."""
    import pyarrow as pa

    fields = []
    for f in schema:
        if pa.types.is_timestamp(f.type) and f.type.unit != "us":
            fields.append(pa.field(f.name, pa.timestamp("us", tz=f.type.tz)))
        else:
            fields.append(f)
    return pa.schema(fields)


def _columns_option(options: dict) -> list[str] | None:
    cols = options.get("columns")
    return [c.strip() for c in cols.split(",") if c.strip()] if cols else None


_RANGE_FILTERS = (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)


def _rg_may_match(f, col_stats: dict) -> bool:
    """Row-group pruning against parquet min/max stats — conservative: True unless the
    statistics PROVE no row can satisfy the predicate (missing stats never prune)."""
    name = f.attribute[0]
    s = col_stats.get(name)
    if s is None:
        return True
    lo, hi, has_nulls = s
    try:
        if isinstance(f, EqualTo):
            return lo <= f.value <= hi
        if isinstance(f, GreaterThan):
            return hi > f.value
        if isinstance(f, GreaterThanOrEqual):
            return hi >= f.value
        if isinstance(f, LessThan):
            return lo < f.value
        if isinstance(f, LessThanOrEqual):
            return lo <= f.value
        if isinstance(f, In):
            return any(lo <= v <= hi for v in f.value)
        if isinstance(f, IsNull):
            return has_nulls
    except TypeError:  # incomparable types (e.g. stats bytes vs value str) — keep
        return True
    return True


def _arrow_expr(filters):
    """AND of pushed filters as a pyarrow compute expression (batch pre-filter)."""
    import pyarrow.compute as pc

    expr = None
    for f in filters:
        name = f.attribute[0]
        fld = pc.field(name)
        if isinstance(f, EqualTo):
            e = fld == f.value
        elif isinstance(f, GreaterThan):
            e = fld > f.value
        elif isinstance(f, GreaterThanOrEqual):
            e = fld >= f.value
        elif isinstance(f, LessThan):
            e = fld < f.value
        elif isinstance(f, LessThanOrEqual):
            e = fld <= f.value
        elif isinstance(f, In):
            e = fld.isin(list(f.value))
        elif isinstance(f, IsNull):
            e = fld.is_null()
        elif isinstance(f, IsNotNull):
            e = ~fld.is_null()
        else:  # pragma: no cover — only supported types reach here
            continue
        expr = e if expr is None else expr & e
    return expr


@dataclass
class _FilePartition(InputPartition):
    file: str
    row_group: int
    # intra-row-group slice (row offsets): a big file written as ONE row group would
    # otherwise scan as one task/one Python worker — the slice partitions trade a
    # repeated (column-pruned) decode for N-way parallelism
    slice_start: int = 0
    slice_len: int = -1

# target rows per input partition when slicing a large row group
_SLICE_ROWS = 131_072


class RubixCacheReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self._options = options
        self._resolved = _resolve(options)
        self._columns = _columns_option(options)
        self._filters: list = []

    # -------------------------------------------------------------- pushdown
    def pushFilters(self, filters):
        """Keep conjuncts we can evaluate against parquet stats / Arrow compute; ALL
        input filters are yielded back (partially-pushed contract) so Spark re-applies
        them and the source's pruning is a pure optimization, never a correctness
        dependency. Nested attributes stay Spark-side."""
        for f in filters:
            if (
                isinstance(f, _RANGE_FILTERS + (In, IsNull, IsNotNull))
                and len(f.attribute) == 1
                and (self._columns is None or f.attribute[0] in self._columns)
            ):
                self._filters.append(f)
            yield f

    def partitions(self):
        files = _parquet_files(self._resolved)
        if not files:  # bare-file path that isn't a dir: single whole-file partition
            return [_FilePartition(file=self._resolved, row_group=-1)]
        parts = []
        for f in files:
            meta = file_meta(f)
            for rg, n in enumerate(meta.rows):
                if all(_rg_may_match(flt, meta.stats[rg]) for flt in self._filters):
                    n_slices = max(1, -(-n // _SLICE_ROWS))
                    step = -(-n // n_slices)
                    for s in range(0, n, step):
                        parts.append(_FilePartition(
                            file=f, row_group=rg, slice_start=s, slice_len=min(step, n - s)))
        # every row group stats-pruned → an empty-read sentinel (Spark requires ≥1
        # partition; row_group=-2 yields zero batches)
        return parts or [_FilePartition(file=files[0], row_group=-2)]

    def read(self, partition: _FilePartition):
        import pyarrow.parquet as pq

        if partition.row_group == -2:  # all row groups pruned by pushed filters
            return
        pf = pq.ParquetFile(partition.file)
        kwargs = {"columns": self._columns} if self._columns else {}
        table = (
            pf.read_row_group(partition.row_group, **kwargs)
            if partition.row_group >= 0
            else pf.read(**kwargs)
        )
        if partition.row_group >= 0 and partition.slice_len >= 0:
            table = table.slice(partition.slice_start, partition.slice_len)
        if self._filters:
            expr = _arrow_expr(self._filters)
            if expr is not None:
                table = table.filter(expr)
        yield from table.cast(_normalize_schema(table.schema)).to_batches()


class RubixCacheDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "rubix_cache"

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        files = _parquet_files(_resolve(self.options))
        arrow_schema = file_meta(files[0]).schema
        cols = _columns_option(self.options)
        if cols:
            import pyarrow as pa

            arrow_schema = pa.schema([arrow_schema.field(c) for c in cols])
        return from_arrow_schema(_normalize_schema(arrow_schema))

    def reader(self, schema: StructType) -> DataSourceReader:
        return RubixCacheReader(schema, self.options)


def register_cache_source(spark) -> None:
    """Register the rubix_cache format with a session.

    Also sets the session confs the source needs (notably
    spark.sql.python.filterPushdown.enabled — Spark refuses to plan a DataSource that
    implements pushFilters() without it); every entry point to this source goes
    through here, so no caller can hit the scan before the conf is set."""
    from rubix_spark.catalog import ensure_session_confs

    ensure_session_confs(spark)
    spark.dataSource.register(RubixCacheDataSource)
