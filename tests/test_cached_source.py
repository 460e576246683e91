"""rubix_cache Python Data Source: read-through caching behind spark.read.format()."""

from __future__ import annotations

import os
import re
import shutil

import pytest

from rubix_spark.sources.cached_source import register_cache_source
from tests.conftest import SF_SMOKE


@pytest.fixture()
def remote_dir(tmp_path):
    d = tmp_path / "remote"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/nation.parquet", d / "nation.parquet")
    return str(d)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _read(spark, path, cache_dir):
    return (
        spark.read.format("rubix_cache")
        .option("path", path)
        .option("cache_dir", cache_dir)
        .load()
    )


def test_cached_source_roundtrip_and_hit(spark, remote_dir, tmp_path):
    register_cache_source(spark)
    cache_dir = str(tmp_path / "dscache")
    path = f"{remote_dir}/nation.parquet"
    direct = _rows(spark.read.parquet(path))
    first = _rows(_read(spark, path, cache_dir))
    assert first == direct  # read-through warm, same data
    # delete the remote: the source must keep serving from cache (the reference's
    # signature behavior, TestCachingInputStream.java:165-177)
    os.remove(path)
    second = _rows(_read(spark, path, cache_dir))
    assert second == direct


def test_cached_source_parallel_partitions(spark, remote_dir, tmp_path):
    register_cache_source(spark)
    cache_dir = str(tmp_path / "dscache2")
    path = f"{remote_dir}/nation.parquet"
    df = _read(spark, path, cache_dir)
    assert df.count() == spark.read.parquet(path).count()
    # partitioning is per row-group: at least one input partition materialized
    assert df.rdd.getNumPartitions() >= 1


@pytest.fixture()
def multi_rg_remote(tmp_path):
    """A parquet file with 10 row groups of 100 sorted keys each (min/max stats prune)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "remote_rg"
    d.mkdir()
    path = str(d / "t.parquet")
    pq.write_table(
        pa.table({"k": list(range(1000)), "v": [float(i) for i in range(1000)]}),
        path,
        row_group_size=100,
    )
    return path


def test_pushed_filters_prune_row_groups(multi_rg_remote, tmp_path):
    """Row-group stats pruning at planning time: an EqualTo on the sorted key keeps
    exactly one of the 10 row-group partitions (reader-level, deterministic)."""
    from pyspark.sql.datasource import EqualTo, LessThan
    from rubix_spark.sources.cached_source import RubixCacheReader

    opts = {"path": multi_rg_remote, "cache_dir": str(tmp_path / "dsc")}
    reader = RubixCacheReader(None, opts)
    residual = list(reader.pushFilters([EqualTo(("k",), 105)]))
    assert len(residual) == 1  # partially-pushed: Spark still re-applies it
    parts = reader.partitions()
    assert len(parts) == 1 and parts[0].row_group == 1  # k=105 lives in rg 1 only

    reader2 = RubixCacheReader(None, opts)
    list(reader2.pushFilters([LessThan(("k",), 250)]))
    assert {p.row_group for p in reader2.partitions()} == {0, 1, 2}


def test_pushed_filter_prune_all_yields_empty_scan(spark, multi_rg_remote, tmp_path):
    register_cache_source(spark)
    df = _read(spark, multi_rg_remote, str(tmp_path / "dsc2"))
    assert df.filter("k < 0").count() == 0
    assert df.filter("k = 555").count() == 1  # survives pruning + residual


def test_columns_option_projects_scan(spark, multi_rg_remote, tmp_path):
    register_cache_source(spark)
    df = (
        spark.read.format("rubix_cache")
        .option("path", multi_rg_remote)
        .option("cache_dir", str(tmp_path / "dsc3"))
        .option("columns", "v")
        .load()
    )
    assert df.columns == ["v"]
    assert df.count() == 1000


def test_footer_cache_holds_one_version_per_file(multi_rg_remote, tmp_path):
    """Every rewrite of a file replaces its footer-cache entry instead of adding one,
    both for the remote path and for the DataSource's warmed copies (each rewrite
    re-warms into a new generation dir, and the invalidated dir's footers go with it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rubix_spark.cache import footer
    from rubix_spark.sources.cached_source import RubixCacheReader

    cache_dir = str(tmp_path / "dsc_rewrites")
    for v in range(1, 6):
        n = 1000 + 10 * v
        pq.write_table(pa.table({"k": list(range(n)), "v": [float(i) for i in range(n)]}),
                       multi_rg_remote, row_group_size=100)
        os.utime(multi_rg_remote, ns=(v * 10**9, v * 10**9))
        assert footer.file_meta(multi_rg_remote).rows[-1] == n - 1000
        parts = RubixCacheReader(None, {"path": multi_rg_remote, "cache_dir": cache_dir}).partitions()
        assert len(parts) == 11
    assert [p for p in footer._FOOTERS if p == multi_rg_remote] == [multi_rg_remote]
    assert len([p for p in footer._FOOTERS if p.startswith(cache_dir)]) == 1


def test_lost_local_copy_falls_back_and_rewarms(multi_rg_remote, tmp_path):
    """A cached copy deleted behind the manifest is a corruption fallback, as in
    ``CacheManager.read``: the next scan invalidates it, re-warms, and plans over the
    new copy instead of failing on the missing files, and the lookup is not a hit."""
    from rubix_spark.sources.cached_source import RubixCacheReader, _manager

    cache_dir = str(tmp_path / "dsc_lost")
    opts = {"path": multi_rg_remote, "cache_dir": cache_dir}
    RubixCacheReader(None, opts)  # read-through warm
    cm = _manager(cache_dir)
    lost = cm.manifest.get(multi_rg_remote).local_path
    shutil.rmtree(lost)
    before = cm.stats()

    parts = RubixCacheReader(None, opts).partitions()
    assert len(parts) == 10
    entry = cm.manifest.get(multi_rg_remote)
    assert entry.local_path != lost and os.path.isdir(entry.local_path)
    after = cm.stats()
    assert after["hits"] == before["hits"]
    assert after["fallbacks"] == before["fallbacks"] + 1
    assert after["misses"] == before["misses"] + 1


def test_float_filters_keep_nan_rows_spark_returns(spark, tmp_path):
    """Spark orders NaN above every value and matches ``NaN = NaN``; Arrow compares
    NaN the IEEE way and footer max excludes NaN. A pushed float filter would drop
    the NaN row before Spark's residual could keep it, so none is pushed. The
    expected rows come from an in-memory DataFrame (Spark semantics), not from
    ``spark.read.parquet``, whose own row-group pruning also drops ``x > 5``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "nan.parquet")
    k, x = [1, 2, 3], [1.0, float("nan"), 2.0]
    pq.write_table(pa.table({"k": k, "x": x}), path)
    register_cache_source(spark)
    cached = _read(spark, path, str(tmp_path / "dsc_nan"))
    mem = spark.createDataFrame(list(zip(k, x)), "k long, x double")
    for cond in ("x >= 2", "x > 5", "x = double('NaN')"):
        want = sorted(r.k for r in mem.where(cond).collect())
        assert sorted(r.k for r in cached.where(cond).collect()) == want, cond
    assert want == [2]


def test_empty_remote_dir_raises_file_not_found(spark, tmp_path):
    """A path whose copy holds no parquet file fails with one FileNotFoundError that
    names it, with or without a user schema."""
    from rubix_spark.sources.cached_source import RubixCacheDataSource, RubixCacheReader

    remote = tmp_path / "empty_remote"
    remote.mkdir()
    opts = {"path": str(remote), "cache_dir": str(tmp_path / "dsc_empty")}
    with pytest.raises(FileNotFoundError, match=re.escape(str(remote))):
        RubixCacheDataSource(opts).schema()
    with pytest.raises(FileNotFoundError, match=re.escape(str(remote))):
        RubixCacheReader(None, opts)
    register_cache_source(spark)
    for reader in (spark.read, spark.read.schema("k long")):
        df = reader.format("rubix_cache").options(**opts)
        with pytest.raises(Exception, match="FileNotFoundError.*" + re.escape(str(remote))):
            df.load().collect()


def test_suffixless_remote_key_warms_a_visible_copy(spark, multi_rg_remote, tmp_path):
    """An object-store key need not end in ``.parquet``: its single-file copy is named
    ``part-00000.parquet``, so the scan serves the remote's rows from the copy and
    ``validate()`` finds the fresh entry whole."""
    from rubix_spark.sources.cached_source import _manager

    path = str(tmp_path / "remote_rg" / "facts")
    os.rename(multi_rg_remote, path)
    want = _rows(spark.read.parquet(path))
    register_cache_source(spark)
    cache_dir = str(tmp_path / "dsc_suffixless")
    assert _rows(_read(spark, path, cache_dir)) == want  # read-through warm
    assert _rows(_read(spark, path, cache_dir)) == want  # hit
    cm = _manager(cache_dir)
    assert os.listdir(cm.manifest.get(path).local_path) == ["part-00000.parquet"]
    assert cm.validate() == {"checked": 1, "broken": 0, "repaired": 0, "orphans_swept": 0}
