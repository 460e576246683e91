"""Admin CLI tests: the sessionless operator surface over a cache directory."""

from __future__ import annotations

import os
import shutil

import pytest

from tests.conftest import SF_SMOKE
from tools.cache_admin import main


@pytest.fixture()
def remote(tmp_path):
    d = tmp_path / "remote"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/nation.parquet", d / "nation.parquet")
    shutil.copy(f"{SF_SMOKE}/region.parquet", d / "region.parquet")
    return str(d)


def test_warm_list_stats_invalidate_roundtrip(remote, tmp_path, capsys):
    cache = str(tmp_path / "cache")
    n, r = f"{remote}/nation.parquet", f"{remote}/region.parquet"

    out = main(["warm", "--cache-dir", cache, n, r])
    assert out["warmed"][n] and os.path.exists(out["warmed"][n])

    out = main(["list", "--cache-dir", cache])
    assert [e["remote_path"] for e in out["entries"]] == sorted([n, r])
    assert out["total_bytes"] > 0

    out = main(["stats", "--cache-dir", cache])
    assert out["cached_files"] == 2

    capsys.readouterr()  # drain
    out = main(["invalidate", "--cache-dir", cache, n])
    assert out["stats"]["cached_files"] == 1

    # stdout is one valid JSON document per invocation (operator contract)
    import json

    assert json.loads(capsys.readouterr().out) == out


def test_invalidate_drops_the_row_group_subset_too(remote, tmp_path):
    from rubix_spark.cache.manager import CacheManager

    cache = str(tmp_path / "cache")
    n = f"{remote}/nation.parquet"
    main(["warm", "--cache-dir", cache, n])
    assert CacheManager(None, cache).warm_row_groups(n, [0]) is not None
    assert len(main(["list", "--cache-dir", cache])["entries"]) == 2
    main(["invalidate", "--cache-dir", cache, n])
    assert main(["list", "--cache-dir", cache])["entries"] == []


def test_validate_repairs_and_evict_respects_budget(remote, tmp_path):
    cache = str(tmp_path / "cache")
    n, r = f"{remote}/nation.parquet", f"{remote}/region.parquet"
    main(["warm", "--cache-dir", cache, n, r])

    # break one local copy → validate repairs (invalidates) it
    entries = main(["list", "--cache-dir", cache])["entries"]
    shutil.rmtree(entries[0]["local_path"])
    out = main(["validate", "--cache-dir", cache])
    assert out == {"checked": 2, "broken": 1, "repaired": 1, "orphans_swept": 0}

    out = main(["evict", "--cache-dir", cache, "--budget", "1"])
    assert out["evicted"] == 1 and out["total_bytes"] == 0


def test_invalidate_tombstones_dir_across_processes(remote, tmp_path):
    """An ``invalidate`` run in its own process leaves the old copy tombstoned in the
    manifest, so the delete outlives that process and any later one reclaims it."""
    import json
    import subprocess
    import sys

    from rubix_spark.cache.manifest import Manifest

    cache = str(tmp_path / "cache")
    n = f"{remote}/nation.parquet"
    old = main(["warm", "--cache-dir", cache, n])["warmed"][n]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, os.path.join(root, "tools", "cache_admin.py"),
                    "invalidate", "--cache-dir", cache, n],
                   check=True, capture_output=True, timeout=120)
    manifest_path = os.path.join(cache, "manifest.json")
    with open(manifest_path) as f:
        assert old in json.load(f)["tombstones"]
    assert os.path.isdir(old)  # still inside its grace period
    Manifest(manifest_path).reclaim(force=True)
    assert not os.path.exists(old)
