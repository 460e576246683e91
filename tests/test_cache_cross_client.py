"""A20 analog — cross-client cache serving through the shared node-local cache dir.

The reference's Local Data Transfer Server (LDTS) exists so that SEVERAL ENGINE
PROCESSES on one node (Presto + Spark + Hive, each with its own BookKeeper client)
serve each other's cached blocks instead of re-fetching from remote storage
(rubix-bookkeeper LocalDataTransferServer + BookKeeper.java:248-353).  In this engine
the same semantic holds with no RPC tier: every client mounts the same cache dir, the
file-locked manifest (test_manifest_concurrency.py) is the coordination point, and a
client HITS on data a *different* client warmed.  Cross-NODE serving (A8/A9) is the
part deliberately not ported — the locality shim (cache/locality.py) schedules the
task onto the owning node instead, and off-ring tasks read remote directly.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rubix_spark.cache import CacheManager


@pytest.fixture()
def remote_file(tmp_path):
    path = str(tmp_path / "remote" / "t.parquet")
    os.makedirs(os.path.dirname(path))
    pq.write_table(pa.table({"k": list(range(1000)), "v": [float(i) for i in range(1000)]}), path)
    return path


def test_second_client_serves_first_clients_warm(spark, remote_file, tmp_path):
    """Client B must HIT (no miss, no warm of its own) on a path only client A warmed,
    and serve it from A's committed generation dir — the LDTS cross-engine scenario."""
    cache_dir = str(tmp_path / "cache")
    a = CacheManager(spark, cache_dir)
    b = CacheManager(spark, cache_dir)  # second engine process on the same node

    assert a.warm(remote_file) is not None
    df = b.read(remote_file)
    assert df.count() == 1000
    assert b.stats()["hits"] == 1 and b.stats()["misses"] == 0
    assert b.stats()["warmed_files"] == 0  # B never fetched from remote itself
    # and the scan really reads A's cache copy, not the remote path
    assert all(cache_dir in f for f in df.inputFiles())


def test_second_client_serves_row_groups_warmed_by_first(spark, remote_file, tmp_path):
    """Sub-file granularity (A3) crosses clients too: B serves row groups A warmed."""
    cache_dir = str(tmp_path / "cache")
    a = CacheManager(spark, cache_dir)
    b = CacheManager(spark, cache_dir)

    rgs = a.relevant_row_groups(remote_file, "k")  # all groups (no bounds)
    assert len(rgs) >= 1
    assert a.warm_row_groups(remote_file, rgs) is not None
    df = b.read_row_groups(remote_file, rgs, warm_on_miss=False)
    assert df.count() == 1000
    assert b.stats()["hits"] == 1 and b.stats()["warmed_files"] == 0


def test_second_client_range_reads_hit_first_clients_whole_copy(spark, remote_file, tmp_path):
    """A range read by B is a hit on the whole-file copy A warmed: no subset of its own."""
    cache_dir = str(tmp_path / "cache")
    a = CacheManager(spark, cache_dir)
    b = CacheManager(spark, cache_dir)

    whole = a.warm(remote_file)
    df = b.read_range(remote_file, "k", 100, 199)
    assert sorted(r.k for r in df.collect()) == list(range(100, 200))
    s = b.stats()
    assert (s["hits"], s["misses"], s["warmed_files"]) == (1, 0, 0)
    assert b.manifest.get(b._rg_key(remote_file)) is None
    assert all(f.startswith("file://" + whole) for f in df.inputFiles())


def test_cross_client_invalidation_and_regeneration(spark, remote_file, tmp_path):
    """Staleness handling crosses clients: B detects a remote rewrite of A's entry,
    re-warms under a NEW generation through the shared CAS, and A then serves B's
    generation — no client ever serves the stale copy."""
    cache_dir = str(tmp_path / "cache")
    a = CacheManager(spark, cache_dir)
    b = CacheManager(spark, cache_dir)

    assert a.warm(remote_file) is not None
    gen_a = a.manifest.get(remote_file).generation

    # remote rewritten (different size => stale regardless of mtime resolution)
    pq.write_table(pa.table({"k": list(range(500)), "v": [0.0] * 500}), remote_file)

    assert b.read(remote_file).count() == 500  # B: stale -> invalidate -> re-warm
    entry = b.manifest.get(remote_file)
    assert entry is not None and entry.generation > gen_a

    df = a.read(remote_file)  # A now serves B's regeneration as a plain hit
    assert df.count() == 500
    assert a.stats()["hits"] == 1
    assert all(cache_dir in f for f in df.inputFiles())


def test_memo_keeps_one_generation_when_another_client_evicts(spark, remote_file, tmp_path):
    """A's hit-DataFrame memo must not keep the generations B evicted or invalidated:
    B's evictions pop only B's own memo, so A holds one generation per path at most,
    replaced when A's next hit sees the newer generation."""
    cache_dir = str(tmp_path / "cache")
    a = CacheManager(spark, cache_dir)
    b = CacheManager(spark, cache_dir, budget_bytes=1)  # evicts everything it can
    keys = sorted([remote_file, a._rg_key(remote_file)])
    for cycle in range(20):
        a.read(remote_file)  # miss: warms a new generation
        assert a.read(remote_file).count() == 1000  # hit: memoized
        a.read_row_groups(remote_file, [0])
        assert a.read_row_groups(remote_file, [0]).count() == 1000
        assert len(a._df_memo) <= len(keys)  # no slot survives for an evicted generation
        assert sorted(a._df_memo) == keys
        for key, (gen, dfs) in a._df_memo.items():
            assert gen == a.manifest.get(key).generation and len(dfs) == 1
        if cycle % 2:
            b.evict_to_budget()
        else:
            b.invalidate(remote_file)
            b.invalidate(b._rg_key(remote_file))
        assert a.manifest.get(remote_file) is None
    assert b.stats()["evictions"] + b.stats()["invalidations"] == 40
