"""Row-group-granularity cache tests — the reference's 1 MiB-block economics
(FileMetadata.java:96-97: per-block bitmap, only touched blocks are downloaded) at
parquet's natural block size, plus the batched-touch manifest behavior.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rubix_spark.cache import CacheManager
from rubix_spark.cache.manifest import Manifest


@pytest.fixture()
def multi_rg_file(tmp_path):
    """A 'remote' parquet file with 10 row groups of 100 rows, k ascending — so footer
    min/max stats make range predicates prunable to specific groups."""
    path = str(tmp_path / "remote" / "facts.parquet")
    os.makedirs(os.path.dirname(path))
    n = 1000
    tbl = pa.table({"k": list(range(n)), "v": [i * 2 for i in range(n)]})
    pq.write_table(tbl, path, row_group_size=100)
    assert pq.ParquetFile(path).metadata.num_row_groups == 10
    return path


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stats_pruning_picks_only_relevant_groups(spark, multi_rg_file, tmp_path):
    cm = CacheManager(spark, str(tmp_path / "cache"))
    assert cm.relevant_row_groups(multi_rg_file, "k", lo=250, hi=449) == [2, 3, 4]
    assert cm.relevant_row_groups(multi_rg_file, "k", lo=999) == [9]
    assert cm.relevant_row_groups(multi_rg_file, "k", hi=-1) == []
    # no stats for an unknown column → conservative: all groups kept
    assert cm.relevant_row_groups(multi_rg_file, "nope") == list(range(10))


def test_predicate_warm_materializes_subset_only(spark, multi_rg_file, tmp_path):
    """A 1% predicate must NOT warm 100% of the file (the round-1 gap vs the
    reference's block cache)."""
    cm = CacheManager(spark, str(tmp_path / "cache"))
    direct = _rows(spark.read.parquet(multi_rg_file).where("k >= 250 and k <= 449"))
    cold = _rows(cm.read_range(multi_rg_file, "k", lo=250, hi=449))  # miss → subset warm
    warm = _rows(cm.read_range(multi_rg_file, "k", lo=250, hi=449))  # hit
    assert direct == cold == warm and len(direct) == 200
    s = cm.stats()
    assert s["hits"] == 1 and s["misses"] == 1
    entry = cm.manifest.get(cm._rg_key(multi_rg_file))
    assert entry.row_groups == [2, 3, 4]
    # local subset carries ~3/10ths of the data, not the whole file
    assert entry.size_bytes < os.path.getsize(multi_rg_file)
    local_files = sorted(os.listdir(entry.local_path))
    assert local_files == ["rg_00002.parquet", "rg_00003.parquet", "rg_00004.parquet"]


def test_subset_grows_incrementally_and_serves_covered_requests(spark, multi_rg_file, tmp_path):
    cm = CacheManager(spark, str(tmp_path / "cache"))
    cm.warm_row_groups(multi_rg_file, [2, 3])
    cm.warm_row_groups(multi_rg_file, [7])  # merges, re-using already-local groups
    entry = cm.manifest.get(cm._rg_key(multi_rg_file))
    assert entry.row_groups == [2, 3, 7]
    got = _rows(cm.read_row_groups(multi_rg_file, [3, 7]))  # covered → cache hit
    assert got == _rows(spark.read.parquet(multi_rg_file).where("(k >= 300 and k < 400) or (k >= 700 and k < 800)"))
    assert cm.stats()["hits"] == 1
    # uncovered request → miss, warms the union
    _rows(cm.read_row_groups(multi_rg_file, [0, 3]))
    assert cm.manifest.get(cm._rg_key(multi_rg_file)).row_groups == [0, 2, 3, 7]


def test_stale_remote_invalidates_subset(spark, multi_rg_file, tmp_path):
    cm = CacheManager(spark, str(tmp_path / "cache"))
    before = _rows(cm.read_range(multi_rg_file, "k", lo=0, hi=99))
    assert before == [(i, i * 2) for i in range(100)]
    # rewrite remote with shifted values (different size/mtime → stale)
    n = 1000
    pq.write_table(pa.table({"k": list(range(n)), "v": [i * 3 for i in range(n)]}),
                   multi_rg_file, row_group_size=100)
    after = _rows(cm.read_range(multi_rg_file, "k", lo=0, hi=99))
    assert after == [(i, i * 3) for i in range(100)]
    assert cm.stats()["invalidations"] == 1


def test_fresh_whole_copy_serves_range_as_one_hit(spark, multi_rg_file, tmp_path):
    """A range read of a path cached whole is one hit on the whole copy: no warm, no
    remote trip (not even the footer prune), and the rows of the row-group path."""
    cm = CacheManager(spark, str(tmp_path / "cache"))
    cm.warm(multi_rg_file)
    trips = []
    cm._remote_penalty = lambda n=1: trips.append(n)
    got = _rows(cm.read_range(multi_rg_file, "k", lo=250, hi=449))
    s = cm.stats()
    assert (s["hits"], s["misses"], s["warmed_files"]) == (1, 0, 1)
    assert trips == [] and cm.manifest.get(cm._rg_key(multi_rg_file)) is None
    by_groups = CacheManager(spark, str(tmp_path / "cache_rg"))
    assert got == _rows(by_groups.read_range(multi_rg_file, "k", lo=250, hi=449))
    assert by_groups.manifest.get(by_groups._rg_key(multi_rg_file)).row_groups == [2, 3, 4]
    assert len(got) == 200


def test_stale_whole_copy_is_invalidated_once_and_range_reads_the_new_version(spark, multi_rg_file, tmp_path):
    cm = CacheManager(spark, str(tmp_path / "cache"))
    cm.warm(multi_rg_file)
    n = 1000
    pq.write_table(pa.table({"k": list(range(n)), "v": [i * 3 for i in range(n)]}),
                   multi_rg_file, row_group_size=100)
    assert _rows(cm.read_range(multi_rg_file, "k", lo=0, hi=99)) == [(i, i * 3) for i in range(100)]
    s = cm.stats()
    assert (s["hits"], s["misses"], s["invalidations"]) == (0, 1, 1)
    assert cm.manifest.get(multi_rg_file) is None
    assert cm.manifest.get(cm._rg_key(multi_rg_file)).row_groups == [0]


def test_expired_whole_copy_counts_one_miss(spark, multi_rg_file, tmp_path):
    cm = CacheManager(spark, str(tmp_path / "cache"), ttl_seconds=0.2)
    cm.warm(multi_rg_file)
    time.sleep(0.3)
    assert _rows(cm.read_range(multi_rg_file, "k", lo=0, hi=99)) == [(i, i * 2) for i in range(100)]
    s = cm.stats()
    assert (s["hits"], s["misses"], s["invalidations"]) == (0, 1, 1)


def test_lost_whole_copy_falls_back_to_the_row_group_path(spark, multi_rg_file, tmp_path):
    """A whole copy deleted behind the manager counts one fallback; the read is then
    the row-group path's one miss, and warms the subset."""
    cm = CacheManager(spark, str(tmp_path / "cache"))
    whole = cm.warm(multi_rg_file)
    shutil.rmtree(whole)
    assert _rows(cm.read_range(multi_rg_file, "k", lo=0, hi=99)) == [(i, i * 2) for i in range(100)]
    s = cm.stats()
    assert (s["hits"], s["misses"], s["fallbacks"]) == (0, 1, 1)
    assert cm.manifest.get(multi_rg_file) is None
    assert cm.manifest.get(cm._rg_key(multi_rg_file)).row_groups == [0]


def test_whole_copy_replaces_the_subset(spark, multi_rg_file, tmp_path):
    """A whole-file warm removes the subset from the manifest and the memo, and
    tombstones its dir: a DataFrame planned over the subset still runs in the grace."""
    cm = CacheManager(spark, str(tmp_path / "cache"))
    planned = cm.read_range(multi_rg_file, "k", lo=250, hi=449)  # warms groups 2-4
    sub = cm.manifest.get(cm._rg_key(multi_rg_file)).local_path
    cm.warm(multi_rg_file)
    assert cm.manifest.get(cm._rg_key(multi_rg_file)) is None
    assert cm._rg_key(multi_rg_file) not in cm._df_memo
    assert sub in cm.manifest._tombstones
    assert _rows(planned) == [(k, k * 2) for k in range(250, 450)]
    assert all(f.startswith("file://" + sub) for f in planned.inputFiles())


def test_invalidate_drops_every_granularity_of_the_path(spark, multi_rg_file, tmp_path):
    """After an in-place rewrite that keeps mtime and size, which freshness checks
    cannot see, ``invalidate(path)`` must leave no copy of the path serving the old
    bytes, whole file or row-group subset. ``invalidate("<path>#rg")`` drops the
    subset alone."""

    def write(mult: int) -> None:
        n = 1000
        pq.write_table(pa.table({"k": list(range(n)), "v": [i * mult for i in range(n)]}),
                       multi_rg_file, row_group_size=100, compression="none", use_dictionary=False)

    write(2)
    cm = CacheManager(spark, str(tmp_path / "cache"))
    whole = cm.warm(multi_rg_file)
    cm.warm_row_groups(multi_rg_file, [1, 2])
    cm.invalidate(cm._rg_key(multi_rg_file))
    assert cm.manifest.get(cm._rg_key(multi_rg_file)) is None
    assert cm.manifest.get(multi_rg_file).local_path == whole
    cm.warm_row_groups(multi_rg_file, [1, 2])

    st = os.stat(multi_rg_file)
    write(3)
    os.utime(multi_rg_file, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(multi_rg_file).st_size == st.st_size
    cm.invalidate(multi_rg_file)
    assert cm.manifest.entries() == []
    assert cm.stats()["invalidations"] == 3
    assert _rows(cm.read_range(multi_rg_file, "k", lo=100, hi=299)) == [(i, i * 3) for i in range(100, 300)]
    assert _rows(cm.read_row_groups(multi_rg_file, [1, 2])) == [(i, i * 3) for i in range(100, 300)]


def test_rewrite_moving_the_range_to_other_groups_is_not_served_stale(spark, multi_rg_file, tmp_path):
    """Footer-cache staleness trap: each rewrite moves the queried key range to
    different row groups. The first rewrite changes both size and mtime (a footer
    cache keyed on path alone would prune with the old groups); the second keeps the
    first's mtime to the nanosecond and changes only the size (a cache keyed on mtime
    alone would)."""
    cm = CacheManager(spark, str(tmp_path / "cache"))
    lo, hi = 250, 449

    def rewrite(shift: int, n: int) -> list[tuple[int, int]]:
        keys = list(range(shift, shift + n))
        pq.write_table(pa.table({"k": keys, "v": [k * shift for k in keys]}),
                       multi_rg_file, row_group_size=100)
        return [(k, k * shift) for k in keys if lo <= k <= hi]

    assert _rows(cm.read_range(multi_rg_file, "k", lo=lo, hi=hi)) == [(k, k * 2) for k in range(lo, hi + 1)]
    assert cm.relevant_row_groups(multi_rg_file, "k", lo=lo, hi=hi) == [2, 3, 4]
    st = os.stat(multi_rg_file)

    want = rewrite(-300, 1100)  # keys -300..799: the range now sits in groups 5-7
    os.utime(multi_rg_file, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert cm.relevant_row_groups(multi_rg_file, "k", lo=lo, hi=hi) == [5, 6, 7]
    assert _rows(cm.read_range(multi_rg_file, "k", lo=lo, hi=hi)) == want
    st = os.stat(multi_rg_file)

    want = rewrite(-550, 1300)  # keys -550..749: groups 8-9, same mtime, new size
    os.utime(multi_rg_file, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(multi_rg_file).st_size != st.st_size
    assert cm.relevant_row_groups(multi_rg_file, "k", lo=lo, hi=hi) == [8, 9]
    assert _rows(cm.read_range(multi_rg_file, "k", lo=lo, hi=hi)) == want


def test_row_group_hit_dataframe_is_memoized_per_generation(spark, multi_rg_file, tmp_path):
    """A repeated row-group hit reuses its planned DataFrame; a warm that commits a
    new generation of the subset drops the memo, and the next hit plans again. A
    read-through miss memoizes the frame it serves for the hits that follow."""
    cm = CacheManager(spark, str(tmp_path / "cache"))
    cm.warm_row_groups(multi_rg_file, [2, 3])
    first = cm.read_row_groups(multi_rg_file, [2, 3])
    assert cm.read_row_groups(multi_rg_file, [2, 3]) is first
    assert cm.read_row_groups(multi_rg_file, [3]) is not first  # other groups, other frame
    cm.warm_row_groups(multi_rg_file, [7])
    assert cm._rg_key(multi_rg_file) not in cm._df_memo
    again = cm.read_row_groups(multi_rg_file, [2, 3])
    assert again is not first
    assert _rows(again) == [(k, k * 2) for k in range(200, 400)]
    assert cm.stats()["hits"] == 4
    cold = cm.read_row_groups(multi_rg_file, [0])  # miss: the warm's frame is memoized
    assert cm.read_row_groups(multi_rg_file, [0]) is cold
    # a group file deleted under the memoized frame still takes the corruption fallback
    os.remove(os.path.join(cm.manifest.get(cm._rg_key(multi_rg_file)).local_path, "rg_00000.parquet"))
    assert _rows(cm.read_row_groups(multi_rg_file, [0])) == [(k, k * 2) for k in range(100)]
    assert cm.stats()["fallbacks"] == 1


def test_rowgroup_eviction_weighs_subset_bytes(spark, multi_rg_file, tmp_path):
    cm = CacheManager(spark, str(tmp_path / "cache"), budget_bytes=1)
    cm.warm_row_groups(multi_rg_file, [1])
    # subset entry participates in LRU eviction like any whole-file entry
    assert cm.manifest.get(cm._rg_key(multi_rg_file)) is None
    assert cm.stats()["evictions"] == 1


def test_collation_merges_adjacent_and_chunks_runs():
    """A4 analog (ReadRequestChain.java:71-90, 92-116): adjacent groups merge into one
    backend read; runs cap at MAX_COLLATED_RUN."""
    assert CacheManager.collate([7, 0, 1, 2, 5, 8]) == [[0, 1, 2], [5], [7, 8]]
    assert CacheManager.collate([0, 1, 2, 3], max_run=2) == [[0, 1], [2, 3]]
    assert CacheManager.collate([]) == []
    assert CacheManager.collate([4, 4, 4]) == [[4]]


def test_collated_warm_equals_per_group_content(spark, multi_rg_file, tmp_path):
    """The sliced-back local files must hold exactly their row group's rows."""
    cm = CacheManager(spark, str(tmp_path / "cache"))
    cm.warm_row_groups(multi_rg_file, [3, 4, 5])  # one collated read, three local files
    entry = cm.manifest.get(cm._rg_key(multi_rg_file))
    for i in (3, 4, 5):
        got = _rows(spark.read.parquet(os.path.join(entry.local_path, f"rg_{i:05d}.parquet")))
        assert got == [(k, k * 2) for k in range(i * 100, (i + 1) * 100)]


def test_touch_is_batched_not_per_hit(tmp_path):
    """touch() must not rewrite the manifest synchronously on every cache hit."""
    mpath = str(tmp_path / "manifest.json")
    m = Manifest(mpath)
    from rubix_spark.cache.manifest import CACHED, Entry

    m.put(Entry("r", "l", 1, 1.0, m.next_generation("r"), CACHED))
    mtime0 = os.path.getmtime(mpath)
    time.sleep(0.05)
    for _ in range(100):
        m.touch("r")
    assert os.path.getmtime(mpath) == mtime0  # no synchronous rewrites within interval
    m.flush()
    assert os.path.getmtime(mpath) > mtime0  # explicit flush persists the timestamps
    # a fresh load sees the flushed last_access
    assert Manifest(mpath).get("r").last_access == m.get("r").last_access


def test_footer_cache_under_concurrent_rewrites(tmp_path):
    """Readers racing a writer that replaces files: every footer returned belongs to
    a version that was written, and once the writer stops each path's entry is the
    final version's."""
    import sys
    import threading

    from rubix_spark.cache import footer

    paths = [str(tmp_path / f"f{i}.parquet") for i in range(3)]

    def write(path: str, n: int) -> None:
        pq.write_table(pa.table({"k": list(range(n))}), path + ".tmp", row_group_size=10)
        os.replace(path + ".tmp", path)

    for p in paths:
        write(p, 10)
    stop = threading.Event()
    bad: list = []

    def reader() -> None:
        while not stop.is_set():
            for p in paths:
                rows = footer.file_meta(p).rows
                if not (10 <= sum(rows) <= 60 and sum(rows) % 10 == 0 and len(rows) == sum(rows) // 10):
                    bad.append(rows)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader) for _ in range(8)]
        for t in threads:
            t.start()
        for n in range(20, 70, 10):
            for p in paths:
                write(p, n)
                time.sleep(0.01)
        stop.set()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert bad == []
    for p in paths:
        assert footer.file_meta(p).rows == [10] * 6
        assert footer._FOOTERS[p][0] == (os.stat(p).st_mtime_ns, os.stat(p).st_size)
