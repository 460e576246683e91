"""Cache admin CLI — the operator surface of the reference's BookKeeper thrift service
(``rubix-spi/src/main/thrift/bookkeeper.thrift:47-67``: getCacheStatus / readData /
invalidateFileMetadata / getCacheMetrics) plus the validator sweep, as a standalone
command so an operator can inspect and manage a cache directory without a Spark job.

Runs sessionless: ``CacheManager(spark=None, ...)`` warms by direct file copy, a
directory's tree as it is (with a session, directories and files over one 16 MiB part
are coalesced by a Spark job instead — see cache/manager.py). All output is one JSON
document on stdout.

    python tools/cache_admin.py stats      --cache-dir /var/cache/rubix
    python tools/cache_admin.py list       --cache-dir /var/cache/rubix
    python tools/cache_admin.py warm       --cache-dir /var/cache/rubix /data/t.parquet
    python tools/cache_admin.py invalidate --cache-dir /var/cache/rubix /data/t.parquet
    python tools/cache_admin.py validate   --cache-dir /var/cache/rubix [--no-repair]
    python tools/cache_admin.py evict      --cache-dir /var/cache/rubix --budget 10000000
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rubix_spark.cache.manager import CacheManager  # noqa: E402


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="cache_admin", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--cache-dir", required=True)

    common(sub.add_parser("stats", help="counter map (getCacheMetrics analog)"))
    common(sub.add_parser("list", help="manifest entries"))
    w = sub.add_parser("warm", help="read-through warm paths (readData analog)")
    common(w)
    w.add_argument("paths", nargs="+")
    i = sub.add_parser("invalidate", help="drop every cached copy of each path, whole file and "
                       "row-group subset (invalidateFileMetadata analog); <path>#rg drops the subset alone")
    common(i)
    i.add_argument("paths", nargs="+")
    v = sub.add_parser("validate", help="sweep local copies, repair broken entries")
    common(v)
    v.add_argument("--no-repair", action="store_true")
    e = sub.add_parser("evict", help="LRU-evict down to a byte budget")
    common(e)
    e.add_argument("--budget", type=int, required=True)
    return p


def main(argv: list[str] | None = None) -> dict:
    args = build_parser().parse_args(argv)
    mgr = CacheManager(None, args.cache_dir)

    if args.cmd == "stats":
        out = mgr.stats()
    elif args.cmd == "list":
        out = {
            "entries": [
                {
                    "remote_path": e.remote_path,
                    "local_path": e.local_path,
                    "size_bytes": e.size_bytes,
                    "generation": e.generation,
                    "state": e.state,
                    "row_groups": e.row_groups,
                    "last_access": e.last_access,
                }
                for e in sorted(mgr.manifest.entries(), key=lambda e: e.remote_path)
            ],
            "total_bytes": mgr.manifest.total_bytes(),
        }
    elif args.cmd == "warm":
        out = {"warmed": {p: mgr.warm(p) for p in args.paths}}
    elif args.cmd == "invalidate":
        for p in args.paths:
            mgr.invalidate(p)
        out = {"invalidated": args.paths, "stats": mgr.stats()}
    elif args.cmd == "validate":
        out = mgr.validate(repair=not args.no_repair)
    elif args.cmd == "evict":
        mgr.budget_bytes = args.budget
        out = {"evicted": mgr.evict_to_budget(), "total_bytes": mgr.manifest.total_bytes()}
    else:  # pragma: no cover
        raise SystemExit(2)
    print(json.dumps(out, indent=1, sort_keys=True))
    return out


if __name__ == "__main__":
    main()
