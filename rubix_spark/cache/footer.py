"""Parquet footer cache: one version of each file's footer statistics per process.

The analog of the reference's BookKeeper FileInfo/FileMetadata cache
(``bookkeeper.thrift:17-20``, ``FileMetadata.java``): a file is identified by
``(path, mtime_ns, size)``, and its metadata is read from the store once per
version, so a cache hit never goes back to the remote for it. The stat that
checks the version is HEAD-class and free under the latency model of
``CacheManager(remote_latency_s=…)``; the footer read is one ranged GET.

Each path holds exactly one version: a rewrite replaces the old entry, and
``forget`` drops the entries of a cache directory when the cache deletes it.
"""

from __future__ import annotations

import os
import threading
from typing import Callable, NamedTuple


class FooterMeta(NamedTuple):
    schema: object  # pyarrow.Schema
    # per row group: {column path: (min, max, has_nulls)}; columns without min/max absent
    stats: list[dict]
    rows: list[int]


_FOOTERS: dict[str, tuple[tuple[int, int], FooterMeta]] = {}
_LOCK = threading.Lock()


def _version(st: os.stat_result) -> tuple[int, int]:
    return st.st_mtime_ns, st.st_size


def _read_footer(f) -> FooterMeta:
    import pyarrow.parquet as pq

    with pq.ParquetFile(f) as pf:
        md = pf.metadata
        stats, rows = [], []
        for rg in range(md.num_row_groups):
            rg_md = md.row_group(rg)
            rows.append(rg_md.num_rows)
            cols = {}
            for ci in range(rg_md.num_columns):
                col = rg_md.column(ci)
                s = col.statistics
                if s is not None and s.has_min_max:
                    cols[col.path_in_schema] = (s.min, s.max, bool(s.null_count))
            stats.append(cols)
        return FooterMeta(pf.schema_arrow, stats, rows)


def file_meta(path: str, on_read: Callable[[], None] | None = None) -> FooterMeta:
    """Footer statistics of the current version of ``path``.

    ``on_read`` runs only when the footer has to be read, i.e. once per file
    version per process; callers charge their remote round trip there.
    """
    with _LOCK:
        hit = _FOOTERS.get(path)
    if hit is not None and hit[0] == _version(os.stat(path)):
        return hit[1]
    if on_read is not None:
        on_read()
    with open(path, "rb") as f:
        # version and footer come from one open file, so a concurrent replace of
        # the path can never pair one version's key with another's footer
        version = _version(os.fstat(f.fileno()))
        meta = _read_footer(f)
    with _LOCK:
        _FOOTERS[path] = (version, meta)
    return meta


def forget(prefix: str) -> None:
    """Drop the entries of ``prefix`` and of every file under it."""
    under = prefix.rstrip(os.sep) + os.sep
    with _LOCK:
        for p in [p for p in _FOOTERS if p == prefix or p.startswith(under)]:
            del _FOOTERS[p]
