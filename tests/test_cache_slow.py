"""Latency-injected remote delegate: the cache's value proposition measured against a
SLOW backend (the object-store case the reference exists for — its local page cache
makes local-FS cold/warm comparisons flattering to the backend, not the cache).

Every remote operation pays a synthetic round trip (`CacheManager(remote_latency_s=…)`);
cache hits pay none. The assertions bound wall-clock: a cold read must cost at least
the injected trips, a warm read must come in under ONE trip — proving it never touched
the remote at all, not merely that it was "faster"."""

from __future__ import annotations

import time

from rubix_spark.cache.manager import CacheManager
from tests.conftest import SF_SMOKE

LAT = 2.0  # seconds per remote round trip — far above this host's noise floor


def _consume(df) -> int:
    return df.count()


def test_slow_backend_cold_pays_trips_warm_pays_none(spark, tmp_path):
    mgr = CacheManager(spark, str(tmp_path / "cache"), remote_latency_s=LAT)
    path = f"{SF_SMOKE}/orders.parquet"

    t0 = time.perf_counter()
    n_cold = _consume(mgr.read(path))
    cold = time.perf_counter() - t0
    assert cold >= 2 * LAT  # read-through warm: open + parallel-GET wave

    t0 = time.perf_counter()
    n_warm = _consume(mgr.read(path))
    warm = time.perf_counter() - t0
    assert n_warm == n_cold > 0
    assert warm < LAT  # served locally: not even one remote trip
    assert mgr.stats()["hits"] == 1 and mgr.stats()["misses"] == 1


def test_slow_backend_row_group_subset_warm_is_local(spark, tmp_path):
    mgr = CacheManager(spark, str(tmp_path / "cache"), remote_latency_s=LAT)
    path = f"{SF_SMOKE}/lineitem.parquet"

    # pays one footer trip, unless this process already read this version's footer
    rgs = mgr.relevant_row_groups(path, "l_orderkey")
    n_cold = _consume(mgr.read_row_groups(path, rgs))  # pays collated-run trips

    t0 = time.perf_counter()
    n_warm = _consume(mgr.read_row_groups(path, rgs))
    warm = time.perf_counter() - t0
    assert n_warm == n_cold > 0
    assert warm < LAT  # subset served from the local row-group files


def test_slow_backend_range_hit_pays_no_trip(spark, tmp_path):
    """A repeated read_range is served without a remote trip, footer prune included:
    the footer is read once per file version, the subset from local files."""
    mgr = CacheManager(spark, str(tmp_path / "cache"), remote_latency_s=LAT)
    path = f"{SF_SMOKE}/lineitem.parquet"
    lo, hi = 100, 1000

    n_cold = _consume(mgr.read_range(path, "l_orderkey", lo, hi))

    t0 = time.perf_counter()
    mgr.relevant_row_groups(path, "l_orderkey", lo, hi)
    assert time.perf_counter() - t0 < LAT  # footer stats from the footer cache

    t0 = time.perf_counter()
    n_warm = _consume(mgr.read_range(path, "l_orderkey", lo, hi))
    warm = time.perf_counter() - t0
    assert n_warm == n_cold > 0
    assert warm < LAT  # prune and subset both local: not even one remote trip
    assert mgr.stats()["hits"] == 1 and mgr.stats()["misses"] == 1
