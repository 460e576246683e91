"""Small-file compaction: fewer, sized files; identical content; atomic swap layout."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from rubix_spark.cache.footer import parquet_files
from rubix_spark.ops.maintenance import compact


def test_compact_rewrites_fragmented_table(spark, tmp_path):
    path = str(tmp_path / "frag")
    df = spark.range(100_000).select(
        F.col("id"), (F.col("id") % 7).alias("k"), F.md5(F.col("id").cast("string")).alias("v")
    )
    df.repartition(40).write.parquet(path)
    assert len(parquet_files(path)) == 40

    before = {(r.id, r.k, r.v) for r in spark.read.parquet(path).collect()}
    from rubix_spark.ops.maintenance import zorder_key

    # sort_within_by accepts an EXPRESSION — the documented zorder composition
    stats = compact(spark, path, target_file_mb=16, sort_within_by=zorder_key("id", "k", bits=8))
    assert stats["files_before"] == 40 and stats["files_after"] < 40
    assert stats["rows"] == 100_000
    # identical content after the swap
    after = {(r.id, r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert after == before
    # no leftover temp/old dirs
    parent = os.path.dirname(path)
    assert not [d for d in os.listdir(parent) if "_compact_" in d or "_old_" in d]


def test_compact_splits_a_single_file_table(spark, tmp_path):
    """A table stored as ONE parquet file is sized from that file: a small target
    splits it into several part files with the same rows."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "single.parquet")
    n = 100_000
    pq.write_table(pa.table({
        "id": pa.array(range(n), pa.int64()),
        "v": [hashlib.md5(str(i).encode()).hexdigest() for i in range(n)],
    }), path)
    assert os.path.getsize(path) > 2 * 1024 * 1024
    before = sorted(map(tuple, spark.read.parquet(path).collect()))

    stats = compact(spark, path, target_file_mb=1)
    assert stats["files_before"] == 1 and stats["files_after"] > 1, stats
    assert stats["rows"] == n
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
    assert os.listdir(tmp_path) == ["single.parquet"]  # no temp file or backup left


def test_zorder_clusters_both_dimensions(spark):
    """Sorting by the z-order key bounds per-partition spans in BOTH columns, where a
    single-column sort leaves the other column's span at full range — the property
    that makes parquet min/max stats prune filters on either dimension."""
    from rubix_spark.ops.maintenance import zorder_key

    n = 256
    df = (
        spark.range(n * n)
        .select((F.col("id") % n).alias("x"), (F.col("id") / n).cast("long").alias("y"))
    )

    def spans(sorted_df):
        per = (
            sorted_df.repartitionByRange(16, "k")
            .select("x", "y", F.spark_partition_id().alias("p"))
            .groupBy("p")
            .agg(
                (F.max("x") - F.min("x")).alias("sx"),
                (F.max("y") - F.min("y")).alias("sy"),
            )
            .collect()
        )
        import statistics
        return statistics.mean(r.sx for r in per), statistics.mean(r.sy for r in per)

    zx, zy = spans(df.withColumn("k", zorder_key("x", "y", bits=8)))
    lx, ly = spans(df.withColumn("k", F.col("x").cast("long")))
    # z-order: both dims bounded well under the full 255 span
    assert zx < 160 and zy < 160, (zx, zy)
    # lexicographic by x: x clusters tightly but y stays at (nearly) full span
    assert ly > 200, (lx, ly)


def test_compact_invalidates_table_memo(spark, tmp_path):
    """catalog.table memoizes the lazy DataFrame incl. its file index; compacting the
    path must evict it or later reads hit deleted part files."""
    from rubix_spark import catalog

    sf_dir = str(tmp_path)
    path = sf_dir + "/orders.parquet"
    spark.range(10_000).selectExpr("id", "id % 5 AS k").repartition(20).write.parquet(path)
    n1 = catalog.table(spark, sf_dir, "orders").count()
    compact(spark, path, target_file_mb=64)
    n2 = catalog.table(spark, sf_dir, "orders").count()  # would throw on a stale index
    assert n1 == n2 == 10_000
