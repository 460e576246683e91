"""sources/stats.py trust rules — especially the round-8 NaN rule (ADVICE r7):
parquet writers exclude NaN from column-chunk min/max while Spark F.max and DuckDB MAX
order NaN greatest, so float columns must never be answered from the footer."""

import math
import os

import pyarrow as pa
import pyarrow.parquet as pq

from rubix_spark.sources.stats import footer_max, parquet_row_count


def _write(tmp_path, name, table):
    p = os.path.join(tmp_path, name)
    pq.write_table(table, p)
    return p


def test_floats_never_trusted_even_without_nan(tmp_path):
    p = _write(
        tmp_path, "t.parquet",
        pa.table({"d": pa.array([1.0, 2.5], pa.float64()), "i": pa.array([1, 7], pa.int64())}),
    )
    maxes, scan = footer_max(p)
    assert "d" in scan and "d" not in maxes  # no NaN-count in classic stats -> no proof
    assert maxes["i"] == 7 and "i" not in scan


def test_nan_would_have_poisoned_the_footer_max(tmp_path):
    # the empirical ADVICE finding: the footer reports the non-NaN max, the engines
    # would answer NaN — proving the column must scan
    p = _write(tmp_path, "t.parquet", pa.table({"d": pa.array([1.5, math.nan], pa.float64())}))
    st = pq.ParquetFile(p).metadata.row_group(0).column(0).statistics
    if st is not None and st.has_min_max:
        assert st.max == 1.5  # footer silently ignores the NaN
    maxes, scan = footer_max(p)
    assert "d" in scan and "d" not in maxes


def test_int_string_trust_rules(tmp_path):
    p = _write(
        tmp_path, "t.parquet",
        pa.table({
            "s_short": pa.array(["abc", "zz"]),
            "s_long": pa.array(["x" * 40, "y" * 40]),
        }),
    )
    maxes, scan = footer_max(p)
    assert maxes.get("s_short") == "zz"
    assert "s_long" in scan  # > 8 bytes: could be a truncated bound


def test_row_count_matches(tmp_path):
    p = _write(tmp_path, "t.parquet", pa.table({"i": list(range(123))}))
    assert parquet_row_count(p) == 123


def test_catalog_max_is_nan_greatest(spark, tmp_path):
    """The trust argument for routing float maxima through ANALYZE stats: the footer
    silently drops the NaN (test above), but the catalog stat is computed by the
    engine's own max — a NaN in the data yields a NaN stat, matching F.max/DuckDB."""
    import math

    from rubix_spark.sources.stats import catalog_max

    p = _write(tmp_path, "t.parquet", pa.table({"d": pa.array([1.5, math.nan], pa.float64()),
                                                "e": pa.array([2.25, -1.0], pa.float64())}))
    spark.sql("DROP TABLE IF EXISTS rxtest_nan")
    spark.sql(f"CREATE TABLE rxtest_nan USING parquet LOCATION '{p}'")
    spark.sql("ANALYZE TABLE rxtest_nan COMPUTE STATISTICS FOR COLUMNS d, e")
    try:
        got = catalog_max(spark, "rxtest_nan", ["d", "e", "missing_col"])
        assert math.isnan(got["d"])  # footer would have said 1.5
        assert got["e"] == 2.25  # exact IEEE round-trip through the stat string
        assert "missing_col" not in got
    finally:
        spark.sql("DROP TABLE IF EXISTS rxtest_nan")


def test_q2_routed_matches_scan_path(spark):
    """q2's two answer paths for the float columns — pruned scan (bare session, the
    driver gate) and catalog ANALYZE stats (routed session, bench) — must agree."""
    from rubix_spark import catalog
    from rubix_spark.queries import load_all

    sf_dir = "/root/testdata/sf0.001"
    q2 = load_all()["q2_max_all"].builder
    bare = q2(spark, sf_dir).collect()[0].asDict()
    catalog.analyze(spark, sf_dir, route=True)
    key = sf_dir.rstrip("/")
    try:
        routed = q2(spark, sf_dir).collect()[0].asDict()
    finally:
        # un-route so the shared session fixture doesn't leak catalog reads into
        # other tests (path-based size-only estimation is their baseline)
        spark._rubix_analyzed_prefix.pop(key, None)
        memo = getattr(spark, "_rubix_table_memo", {})
        for k in [k for k in memo if k[0] == key]:
            del memo[k]
    assert routed == bare


def test_session_float_max_scans_once_then_serves_from_memo(spark):
    """Bare-session q2 path: the first call pays one pruned scan, later calls are
    dict lookups (the session IS the stat store; fixtures are immutable per session)."""
    from rubix_spark import catalog
    from rubix_spark.sources.stats import session_float_max

    sf_dir = "/root/testdata/sf0.001"
    li = catalog.table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice"]
    # start clean in case another test populated the memo
    getattr(spark, "_rubix_float_max_memo", {}).pop((sf_dir, "lineitem"), None)
    first = session_float_max(spark, sf_dir, "lineitem", cols, li)
    assert set(first) == set(cols)
    memo = spark._rubix_float_max_memo[(sf_dir, "lineitem")]
    # poison the DataFrame: a second call must NOT touch it if the memo serves
    class Boom:
        def agg(self, *a, **k):
            raise AssertionError("re-scanned despite memo")

    second = session_float_max(spark, sf_dir, "lineitem", cols, Boom())
    assert second == first
    assert memo == spark._rubix_float_max_memo[(sf_dir, "lineitem")]


def test_footer_topk_cutoff_sorted_and_unsorted(tmp_path):
    """Zone-map top-k bound (q17): on a key-sorted multi-row-group file the cutoff
    prunes to the first group(s); it is always a CORRECT bound (>= k rows at or
    under it); floats and missing columns return None."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rubix_spark.sources.stats import footer_topk_cutoff

    n = 10_000
    sorted_path = str(tmp_path / "sorted.parquet")
    pq.write_table(
        pa.table({"k": list(range(n)), "v": [float(i) for i in range(n)]}),
        sorted_path, row_group_size=1000,
    )
    cut = footer_topk_cutoff(sorted_path, "k", 1000)
    # first row group holds keys 0..999 -> bound is its max, not the global max
    assert cut == 999
    # unsorted/interleaved groups: bound still valid (>= k values <= cut), just wider
    shuffled = [((i * 7919) % n) for i in range(n)]
    unsorted_path = str(tmp_path / "unsorted.parquet")
    pq.write_table(pa.table({"k": shuffled}), unsorted_path, row_group_size=1000)
    cut2 = footer_topk_cutoff(unsorted_path, "k", 1000)
    assert cut2 is not None and sum(1 for x in shuffled if x <= cut2) >= 1000
    assert footer_topk_cutoff(sorted_path, "v", 10) is None       # float: never
    assert footer_topk_cutoff(sorted_path, "nope", 10) is None    # absent column
    assert footer_topk_cutoff(sorted_path, "k", n + 1) is None    # not enough rows


def test_footer_topk_cutoff_unselective_returns_none(tmp_path):
    """Round-11 (q17 at sf10): when every row group spans ~the whole key range the
    smallest covering max is ~the global max — a VALID bound that prunes nothing.
    Its non-None return used to block the exact data-derived fallback; now a bound
    that could keep more than 32k rows returns None instead."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rubix_spark.sources.stats import footer_topk_cutoff

    n = 10_000
    shuffled = [((i * 7919) % n) for i in range(n)]
    path = str(tmp_path / "fullspan.parquet")
    pq.write_table(pa.table({"k": shuffled}), path, row_group_size=1000)
    # k=10: every group's min is ~0, so kept_ub == n == 10_000 > 32*10 -> None
    assert footer_topk_cutoff(path, "k", 10) is None
    # k=1000: kept_ub == 10_000 <= 32*1000 -> the wide-but-bounded cutoff survives
    assert footer_topk_cutoff(path, "k", 1000) is not None


def test_footer_topk_cutoff_zero_row_group_part(tmp_path):
    """ADVICE r9: a zero-row-group part file in a directory fixture must be skipped
    (the old eager md.row_group(0) genexp raised), and the bound must still come
    from the populated parts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rubix_spark.sources.stats import footer_topk_cutoff

    d = tmp_path / "t.parquet"
    d.mkdir()
    # writer opened and closed with no batches -> a footer with ZERO row groups
    # (pq.write_table of an empty table instead writes one 0-row group)
    schema = pa.schema([("k", pa.int64())])
    pq.ParquetWriter(str(d / "part-0.parquet"), schema).close()
    assert pq.ParquetFile(str(d / "part-0.parquet")).metadata.num_row_groups == 0
    pq.write_table(pa.table({"k": list(range(100))}), str(d / "part-1.parquet"),
                   row_group_size=10)
    cut = footer_topk_cutoff(str(d), "k", 10)
    assert cut == 9
    # an all-empty directory: no rows at all -> None, not an IndexError
    e = tmp_path / "empty.parquet"
    e.mkdir()
    pq.ParquetWriter(str(e / "part-0.parquet"), schema).close()
    assert footer_topk_cutoff(str(e), "k", 1) is None
    # one 0-row row group (what pq.write_table emits for an empty table) is also
    # fine: skipped by the g.num_rows == 0 guard, bound still from populated parts
    pq.write_table(pa.table({"k": pa.array([], pa.int64())}),
                   str(d / "part-2.parquet"))
    assert footer_topk_cutoff(str(d), "k", 10) == 9


def test_stats_read_through_the_footer_cache(tmp_path, monkeypatch):
    """parquet_row_count / footer_max / footer_topk_cutoff read each file's footer
    once per version: a repeated call reads none, an in-place rewrite is seen by all
    three, and the footer cache holds one entry for the path."""
    from rubix_spark.cache import footer
    from rubix_spark.sources.stats import footer_topk_cutoff

    p = str(tmp_path / "t.parquet")

    def answers():
        return parquet_row_count(p), footer_max(p)[0]["k"], footer_topk_cutoff(p, "k", 10)

    pq.write_table(pa.table({"k": list(range(100))}), p, row_group_size=10)
    os.utime(p, ns=(10**9, 10**9))
    assert answers() == (100, 99, 9)
    reads = []
    real = footer._read_footer
    monkeypatch.setattr(footer, "_read_footer", lambda f: reads.append(f) or real(f))
    assert answers() == (100, 99, 9)
    assert reads == []
    pq.write_table(pa.table({"k": list(range(5, 205))}), p, row_group_size=20)
    os.utime(p, ns=(2 * 10**9, 2 * 10**9))
    assert answers() == (200, 204, 24)
    assert len(reads) == 1
    assert [k for k in footer._FOOTERS if k.startswith(str(tmp_path))] == [p]
