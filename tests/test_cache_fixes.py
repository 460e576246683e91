"""Round-3 cache-layer fixes (ADVICE.md r2) + the Spark jobs a cache miss submits.

- granularity isolation: whole-file and #rg entries for one remote path must live in
  DIFFERENT local dirs (the r2 collision silently duplicated rows and let dropping
  either granularity destroy the other's data)
- evict race: a concurrently-deleted previous subset dir must degrade to a remote
  refetch, never propagate FileNotFoundError
- TTL applies to row-group subset entries exactly as to whole-file entries (A16)
- a miss submits no Spark job of its own: a whole-file warm under one output part is a
  byte copy and the collated row-group fetch runs in-process (FileDownloader.java:194-239
  analog), and a re-warm whose footers hold the key's known schema reuses it; only
  directories and files of more than one part take the coalescing Spark job
- the copies: a sessionless directory copy keeps relative paths, a single-file copy is
  named ``*.parquet`` whatever the remote key is called
"""

from __future__ import annotations

import itertools
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rubix_spark.cache import CacheManager, manager


@pytest.fixture()
def multi_rg_file(tmp_path):
    path = str(tmp_path / "remote" / "facts.parquet")
    os.makedirs(os.path.dirname(path))
    n = 1000
    tbl = pa.table({"k": list(range(n)), "v": [i * 2 for i in range(n)]})
    pq.write_table(tbl, path, row_group_size=100)
    return path


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_granularities_never_share_a_directory(spark, multi_rg_file, tmp_path):
    """Warm BOTH granularities for one path (the subset after the whole copy, which
    would otherwise replace it): the whole-file read must return exactly the file's
    rows (no rg_* double-count), and each granularity's dir is its own."""
    cm = CacheManager(spark, str(tmp_path / "cache"))
    cm.warm(multi_rg_file)
    cm.warm_row_groups(multi_rg_file, [0, 1])
    whole = cm.manifest.get(multi_rg_file)
    sub = cm.manifest.get(cm._rg_key(multi_rg_file))
    assert whole.local_path != sub.local_path
    # whole-file hit path serves exactly 1000 rows, not 1000 + the subset's 200
    assert cm.read(multi_rg_file).count() == 1000
    # dropping one granularity leaves the other's data intact and servable
    cm.invalidate(cm._rg_key(multi_rg_file))
    assert os.path.isdir(whole.local_path)
    assert cm.read(multi_rg_file).count() == 1000
    cm.warm_row_groups(multi_rg_file, [0, 1])
    sub = cm.manifest.get(cm._rg_key(multi_rg_file))
    shutil.rmtree(whole.local_path)
    assert cm.validate() == {"checked": 2, "broken": 1, "repaired": 1, "orphans_swept": 0}
    assert os.path.isdir(sub.local_path)
    assert _rows(cm.read_row_groups(multi_rg_file, [0, 1])) == [(i, i * 2) for i in range(200)]
    assert cm.stats()["hits"] == 3


def test_concurrent_evict_of_prev_subset_falls_back_to_remote(spark, multi_rg_file, tmp_path):
    """Simulate the bench-stress race: prev's dir vanishes between the manifest read
    and the reuse-copy — the groups must be refetched from remote, not crash."""
    cm = CacheManager(spark, str(tmp_path / "cache"))
    cm.warm_row_groups(multi_rg_file, [2, 3])
    prev = cm.manifest.get(cm._rg_key(multi_rg_file))
    shutil.rmtree(prev.local_path)  # concurrent evictor got here first
    local = cm.warm_row_groups(multi_rg_file, [5])
    assert local is not None
    entry = cm.manifest.get(cm._rg_key(multi_rg_file))
    assert entry.row_groups == [2, 3, 5]
    assert sorted(os.listdir(entry.local_path)) == [
        "rg_00002.parquet", "rg_00003.parquet", "rg_00005.parquet"
    ]
    got = _rows(cm.read_row_groups(multi_rg_file, [2, 3, 5]))
    want = [(i, i * 2) for i in list(range(200, 400)) + list(range(500, 600))]
    assert got == sorted(want)


def test_ttl_expires_rowgroup_entries(spark, multi_rg_file, tmp_path):
    cm = CacheManager(spark, str(tmp_path / "cache"), ttl_seconds=0.2)
    cm.warm_row_groups(multi_rg_file, [1])
    assert cm.read_row_groups(multi_rg_file, [1]).count() == 100  # fresh → hit
    assert cm.stats()["hits"] == 1
    time.sleep(0.3)
    assert cm.read_row_groups(multi_rg_file, [1]).count() == 100  # expired → invalidate+rewarm
    s = cm.stats()
    assert s["invalidations"] == 1 and s["misses"] == 1


_markers = itertools.count()


def _jobs(spark, fn) -> int:
    """How many Spark jobs ``fn()`` submits, counted through the status tracker.

    The tracker is fed by the listener bus, so a marker job in a group of its own runs
    after ``fn``: once the marker shows, every job ``fn`` started has shown too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    fn()
    marker = f"job-count-marker-{next(_markers)}"
    sc.setJobGroup(marker, "flushes the listener bus")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(marker):
        assert time.time() < deadline, "marker job never reached the status tracker"
        time.sleep(0.02)
    return len(set(tracker.getJobIdsForGroup(None)) - before)


def test_miss_warms_without_a_spark_job(spark, multi_rg_file, tmp_path):
    """A whole-file warm under one output part is a byte copy and a row-group warm
    fetches in-process: neither submits a job. Only the first copy of a key then pays
    the schema inference job when it is served."""
    cm = CacheManager(spark, str(tmp_path / "cache"))
    assert _jobs(spark, lambda: cm.warm(multi_rg_file)) == 0
    entry = cm.manifest.get(multi_rg_file)
    assert os.listdir(entry.local_path) == ["part-00000.parquet"]
    with open(multi_rg_file, "rb") as remote, open(os.path.join(entry.local_path, "part-00000.parquet"), "rb") as copy:
        assert remote.read() == copy.read()
    assert _jobs(spark, lambda: cm.warm_row_groups(multi_rg_file, [0, 1, 7])) == 0
    sub = cm.manifest.get(cm._rg_key(multi_rg_file))
    assert sub.row_groups == [0, 1, 7]
    got = _rows(spark.read.parquet(os.path.join(sub.local_path, "rg_00007.parquet")))
    assert got == [(i, i * 2) for i in range(700, 800)]
    assert _jobs(spark, lambda: cm.read(multi_rg_file)) == 1  # first copy: inference


def test_rewarm_of_a_known_version_submits_no_job(spark, multi_rg_file, tmp_path):
    """Evicted or invalidated copies of an unchanged remote come back without a job
    before the caller's action, at both granularities."""
    cm = CacheManager(spark, str(tmp_path / "cache"))
    assert cm.read(multi_rg_file).count() == 1000
    assert cm.read_row_groups(multi_rg_file, [2, 3]).count() == 200
    cm.invalidate(multi_rg_file)
    cm.invalidate(cm._rg_key(multi_rg_file))
    out = {}
    assert _jobs(spark, lambda: out.update(whole=cm.read(multi_rg_file))) == 0
    assert _jobs(spark, lambda: out.update(sub=cm.read_row_groups(multi_rg_file, [2, 3]))) == 0
    assert _rows(out["whole"]) == [(i, i * 2) for i in range(1000)]
    assert _rows(out["sub"]) == [(i, i * 2) for i in range(200, 400)]
    assert cm.stats()["misses"] == 4 and cm.stats()["warmed_files"] == 4


@pytest.mark.parametrize("layout", ["directory", "over_one_part"])
def test_coalescing_job_only_where_it_changes_the_layout(spark, multi_rg_file, tmp_path, monkeypatch, layout):
    """A directory, and a file of more than one output part, still take the coalescing
    Spark job; its copy is Spark's parts, not the remote's files."""
    remote = multi_rg_file
    if layout == "directory":
        remote = str(tmp_path / "remote_dir")
        os.makedirs(remote)
        tbl = pq.read_table(multi_rg_file)
        pq.write_table(tbl.slice(0, 500), os.path.join(remote, "a.parquet"))
        pq.write_table(tbl.slice(500), os.path.join(remote, "b.parquet"))
    else:
        monkeypatch.setattr(manager, "PART_BYTES", os.path.getsize(multi_rg_file) // 2)
    cm = CacheManager(spark, str(tmp_path / "cache"))
    assert _jobs(spark, lambda: cm.warm(remote)) >= 1
    local = cm.manifest.get(remote).local_path
    assert "_SUCCESS" in os.listdir(local)
    assert _rows(cm.read(remote)) == [(i, i * 2) for i in range(1000)]


def test_rewrite_the_stat_cannot_see_is_inferred_again(spark, multi_rg_file, tmp_path):
    """A rewrite that keeps the remote's (mtime, size) is invisible to the staleness
    check, so the caller invalidates by hand. The schema is reused only when the copy's
    footers hold it, so the re-warmed copy shows the column the rewrite added."""
    remote = str(tmp_path / "remote_dir")
    os.makedirs(remote)
    part, pad = os.path.join(remote, "a.parquet"), os.path.join(remote, "_pad")
    tbl = pq.read_table(multi_rg_file)
    pq.write_table(tbl, part)
    with open(pad, "wb") as f:
        f.write(b"x" * 4096)
    cm = CacheManager(spark, str(tmp_path / "cache"))
    assert cm.read(remote).columns == ["k", "v"]
    version, stats = manager._mtime_size(remote), {p: os.stat(p) for p in (part, pad)}
    pq.write_table(tbl.append_column("w", pa.array([1] * 1000)), part)
    with open(pad, "wb") as f:  # the same total size, then the same mtimes
        f.write(b"x" * (4096 + stats[part].st_size - os.path.getsize(part)))
    for p, st in stats.items():
        os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert manager._mtime_size(remote) == version
    cm.invalidate(remote)
    df = cm.read(remote)
    assert df.columns == ["k", "v", "w"]
    assert df.agg({"w": "sum"}).collect()[0][0] == 1000


def test_garbage_copy_of_a_known_version_falls_back(spark, multi_rg_file, tmp_path):
    """Every part file's footer is read before a known schema is reused, so garbage
    bytes fail inside the lookup's corruption fallback, not in the caller's action."""
    cm = CacheManager(spark, str(tmp_path / "cache"))
    assert cm.read(multi_rg_file).count() == 1000  # the version's schema is now known
    cm.invalidate(multi_rg_file)
    local = cm.warm(multi_rg_file)
    with open(os.path.join(local, "part-00000.parquet"), "wb") as f:
        f.write(b"not parquet at all" * 100)
    assert _rows(cm.read(multi_rg_file)) == [(i, i * 2) for i in range(1000)]
    assert cm.stats()["fallbacks"] == 1


def test_sessionless_directory_copy_keeps_relative_paths(tmp_path):
    """Hive partition dirs hold part files of the same name: the sessionless tree copy
    must keep them apart, so the copy has the remote's files and rows."""
    remote = tmp_path / "remote"
    for part in ("p=0", "p=1"):
        os.makedirs(remote / part)
        pq.write_table(pa.table({"k": list(range(5))}), str(remote / part / "part-0.parquet"))
    local = CacheManager(None, str(tmp_path / "cache")).resolve(str(remote))

    def tree(root):
        return sorted(os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs)

    assert local != str(remote)
    assert tree(local) == tree(str(remote)) == ["p=0/part-0.parquet", "p=1/part-0.parquet"]
    assert pq.read_table(local).num_rows == pq.read_table(str(remote)).num_rows == 10
