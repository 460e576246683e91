"""CacheManager: RubiX read-path semantics on Spark primitives.

Reference parity map (operator ids from SURVEY.md §2.A):

- ``_lookup()``    — A2's routing (CachingInputStream.java:315-500), the one hit/miss
                     decision behind ``read()``, ``read_row_groups()`` and ``resolve()``:
                     TTL, staleness, row-group coverage, counters, and A5's corruption
                     fallback (local failure → invalidate + remote read,
                     ``CachedReadRequestChain.java:204-223``)
- ``warm()``       — A6/A10/A18-A19 read-through + async warm-up: a *distributed*
                     ``spark.read.parquet(remote).write.parquet(local)`` copy (every
                     executor copies its split — the Spark analog of the 10-thread
                     remote-fetch pool, ``FileDownloader.java:194-239``), then a
                     generation-checked manifest commit (A13, ``_commit``)
- staleness        — A16: remote mtime/size vs manifest ⇒ invalidate + new generation
                     (``BookKeeper.java:295-305, 774-777``)
- generations      — A17: monotonic per-path counter; local dirs carry ``_g<N>`` suffixes
                     (``CacheUtil.java:162-167``); stale writers lose the manifest CAS
- footer metadata  — the BookKeeper FileInfo/FileMetadata cache (``bookkeeper.thrift:17-20``,
                     ``FileMetadata.java``): parquet footer stats are cached per
                     ``(path, mtime_ns, size)`` in :mod:`rubix_spark.cache.footer`, one
                     version per path, and read from the remote once per version, so a
                     ``read_range`` hit never goes back to the store
- hit DataFrames   — ``read()`` and row-group hits reuse the planned DataFrame of the
                     entry's generation (one generation per manifest key); a
                     read-through miss leaves its DataFrame there for the next hit, and
                     the local files are checked before a memoized DataFrame is served
- ``evict_to_budget()`` — A15: LRU by last_access down to ``budget_bytes``
                     (weigher/maximumWeight analog, ``BookKeeper.java:629-686``); like
                     the one removal listener of ``BookKeeper.java:723-746``, every
                     eviction, invalidation and superseded commit deletes its dir
                     through the manifest's tombstones (``Manifest.remove``/``put``)
- skip patterns    — ``CacheUtil.skipCache`` allow/deny regexes (``CacheUtil.java:203-222``)
- dummy mode       — A26: metadata-only what-if accounting (``DummyModeCachingInputStream``)
- ``stats()``      — A27 metrics surface (hit/miss/eviction/invalidation counters,
                     ``BookKeeper.java:203-246``)

Cluster posture: on a real cluster the local copy lands on executor-local storage
(per-node NVMe) and task placement follows parquet block locality; RubiX's consistent-hash
split ownership (A12/A21) is replaced by Spark's own locality preferences, and its
cross-node cache plane (A8/A20) by the shuffle service — documented design decisions, not
gaps. Granularity is whole files (a Spark scan re-reads whole row groups anyway, so block
granularity buys nothing at parquet level).
"""

from __future__ import annotations

import os
import re
import shutil
import threading
import time
from typing import Callable, Iterable, TypeVar

from pyspark.sql import DataFrame, SparkSession

from rubix_spark.cache import footer
from rubix_spark.cache.manifest import CACHED, Entry, Manifest

T = TypeVar("T")


class CacheReadError(RuntimeError):
    """Raised in strict mode when a cached read fails (CacheConfig.java:62 analog)."""


def _require(paths: list[str]) -> None:
    """Raise FileNotFoundError for the first of ``paths`` that is gone."""
    for p in paths:
        if not os.path.exists(p):
            raise FileNotFoundError(p)


def _mtime_size(path: str) -> tuple[float, int]:
    st = os.stat(path)
    if os.path.isdir(path):
        total = 0
        mt = st.st_mtime
        for root, _, files in os.walk(path):
            for fn in files:
                s = os.stat(os.path.join(root, fn))
                total += s.st_size
                mt = max(mt, s.st_mtime)
        return mt, total
    return st.st_mtime, st.st_size


class CacheManager:
    def __init__(
        self,
        spark: SparkSession,
        cache_dir: str,
        budget_bytes: int | None = None,
        ttl_seconds: float | None = None,
        strict: bool = False,
        dummy: bool = False,
        async_warmup: bool = False,
        deny_patterns: tuple[str, ...] = (),
        allow_patterns: tuple[str, ...] = (".*",),
        remote_latency_s: float = 0.0,
        peer_client=None,
    ):
        self.spark = spark
        self.cache_dir = cache_dir
        # Latency-injected remote delegate: every remote OPERATION (footer read, ranged
        # GET, whole-file copy, direct serve) pays one synthetic round trip, the way an
        # object-store GET does — the backend the cache exists for (reference
        # README.md:5-12). Collated runs each pay ONE trip (that is what collation is
        # for); parallel fetch tasks pay their trips concurrently, like parallel GETs.
        # Freshness stats (HEAD-class metadata) stay free, mirroring the reference's
        # cached file metadata; so does a footer already in the footer cache, which is
        # read once per (path, mtime_ns, size) version (cache/footer.py).
        # 0.0 (default) = local-FS delegate, no injection.
        self.remote_latency_s = float(remote_latency_s)
        # A8/A9 non-local read chain: on a miss, ask a peer node's cache daemon
        # (cache/server.py CacheClient) for its CACHED copy BEFORE paying the remote —
        # the reference's NonLocalReadRequestChain / LocalDataTransferServer pair.
        # Peer fetch is LAN-class; remote is object-store-class (remote_latency_s).
        self.peer_client = peer_client
        self.budget_bytes = budget_bytes
        # TTL expiry — the Guava expireAfterWrite analog (BookKeeper.java:674-680);
        # entries older than ttl_seconds are invalidated on next access
        self.ttl_seconds = ttl_seconds
        self.strict = strict
        self.dummy = dummy
        # async read-through: cold reads serve remote immediately and warm in the
        # background (the reference's default, rubix.cache.parallel.warmup=true,
        # CacheConfig.java:157); sync mode warms inline (A6)
        self.async_warmup = async_warmup
        self._warmup = None
        if async_warmup:
            from rubix_spark.cache.warmup import WarmupProcessor

            self._warmup = WarmupProcessor(self)
        self._deny = [re.compile(p) for p in deny_patterns]
        self._allow = [re.compile(p) for p in allow_patterns]
        os.makedirs(os.path.join(cache_dir, "fcache"), exist_ok=True)
        self.manifest = Manifest(os.path.join(cache_dir, "manifest.json"))
        self._lock = threading.RLock()
        # hit-path DataFrame memo: manifest key -> (generation, {row groups: DataFrame}),
        # with groups None for whole-file reads; a read-through miss seeds it. Schema
        # inference on spark.read.parquet costs ~100-150 ms per call (driver file
        # listing + footer read), which dominated warm reads. Every re-warm bumps the
        # generation (new local dir), so a memoized entry can never serve stale or
        # relocated data — the in-memory-metadata pattern of the reference's BookKeeper
        # cache. Each key holds one generation: a lookup under a newer one replaces the
        # slot, so entries another manager evicted or invalidated cannot pile up here.
        self._df_memo: dict[str, tuple[int, dict[tuple[int, ...] | None, DataFrame]]] = {}
        self._counters = {
            "hits": 0,
            "misses": 0,
            "evictions": 0,
            "invalidations": 0,
            "warmed_files": 0,
            "fallbacks": 0,
            "peer_fetches": 0,
        }

    # ------------------------------------------------------------------ policy
    def cacheable(self, remote_path: str) -> bool:
        """Allow/deny regex gate (CacheUtil.java:203-222, 341-355).

        The path is lexically NORMALIZED before matching: a suffix-anchored allow
        pattern (the daemon's parquet gate) is otherwise bypassable with
        ``real.parquet/../../etc/passwd`` — the '.parquet/' substring matches but
        the OS resolves the dotdots to an arbitrary file (review-caught, r13).
        Symlinks are not resolved (lexical only); a deployment that must defend
        against hostile local symlinks should gate on os.path.realpath instead.
        """
        norm = os.path.normpath(remote_path)
        if any(p.search(norm) for p in self._deny):
            return False
        return any(p.search(norm) for p in self._allow)

    def _remote_penalty(self, trips: int = 1) -> None:
        """Pay ``trips`` synthetic remote round trips (driver-side call sites)."""
        if self.remote_latency_s > 0.0 and trips > 0:
            time.sleep(self.remote_latency_s * trips)

    def _memo_df(self, entry: Entry, groups: tuple[int, ...] | None, paths: list[str]) -> DataFrame:
        """The DataFrame over ``paths`` of ``entry``'s generation, memoized and built on
        first use. The paths are checked first, so a local copy deleted under a
        memoized DataFrame still reaches the caller's corruption fallback."""
        _require(paths)
        with self._lock:
            gen, dfs = self._df_memo.get(entry.remote_path, (None, {}))
            if gen != entry.generation:
                dfs = {}
                self._df_memo[entry.remote_path] = (entry.generation, dfs)
            df = dfs.get(groups)
        if df is None:
            df = self.spark.read.parquet(*paths)
            with self._lock:
                dfs[groups] = df
        return df

    def _serve_warmed(self, key: str, local: str, groups: tuple[int, ...] | None, paths: list[str]) -> DataFrame | None:
        """The DataFrame over a copy this manager just warmed, memoized for the next hit
        when the copy is still ``key``'s live generation. None when the budget eviction
        right after the warm already removed it (tiny budgets): the caller serves remote."""
        entry = self.manifest.get(key)
        if entry is None:
            return None
        if entry.local_path != local:  # a newer warm superseded it: serve, don't memoize
            return self.spark.read.parquet(*paths)
        return self._memo_df(entry, groups, paths)

    def _local_dir(self, remote_path: str, generation: int) -> str:
        # <cache>/fcache/<sanitized-remote>_g<N>  (CacheUtil.java:162-167 layout)
        sanitized = re.sub(r"[^A-Za-z0-9._-]", "_", remote_path.strip("/"))
        return os.path.join(self.cache_dir, "fcache", f"{sanitized}_g{generation}")

    # ------------------------------------------------------------------ warm path
    def warm(self, remote_path: str) -> str | None:
        """Materialize a remote parquet file/dir into the local cache; returns local path.

        The copy itself is a distributed Spark job (each executor writes its own split),
        mirroring the parallel FileDownloader (A19). Returns None when the path is gated
        out by skip patterns or dummy mode.
        """
        if not self.cacheable(remote_path) or self.dummy:
            return None
        mtime, size = _mtime_size(remote_path)
        gen = self.manifest.next_generation(remote_path)
        local = self._local_dir(remote_path, gen)
        # one round trip for the copy job's open; the per-split GETs run in parallel
        # executor tasks, so wall-clock pays ~one more trip, not one per split
        self._remote_penalty(2 if self.spark is not None else 1)
        try:
            self._materialize(remote_path, local, size)
        except BaseException:
            # a failed warm (transient remote error, torn read under a concurrent
            # rewrite) must not leak its partial dir: it is in no manifest entry, so
            # eviction and validate() could never reclaim it — every failed warm
            # would leak disk forever (found by the generated cache schedules, r13)
            shutil.rmtree(local, ignore_errors=True)
            raise
        entry = Entry(remote_path=remote_path, local_path=local, size_bytes=size,
                      last_modified=mtime, generation=gen)
        return local if self._commit(entry, "warmed_files") else None

    def _commit(self, entry: Entry, counter: str) -> bool:
        """Commit a copy just written to ``entry.local_path`` through the manifest CAS
        (A13). When a newer generation won the race (A17) the copy is discarded;
        otherwise the key's memoized DataFrames go, ``counter`` counts the copy and the
        cache evicts down to its budget."""
        if not self.manifest.put(entry):
            shutil.rmtree(entry.local_path, ignore_errors=True)
            return False
        with self._lock:
            self._df_memo.pop(entry.remote_path, None)
            self._counters[counter] += 1
        self.evict_to_budget()
        return True

    def _materialize(self, remote_path: str, local: str, size: int) -> None:
        if self.spark is not None:
            # one output file per ~16 MiB of remote data. Two measured failure modes
            # bound this from both sides: 32 tiny part-files for a small table make the
            # HIT path as slow as the remote read (r2: warm == cold at sf0.1 before
            # coalescing), and ONE part-file for a 124 MB table makes every warm scan a
            # single task (r4 at sf1: the cached star join ran 16.7 s warm because the
            # fact scan had zero parallelism — Spark splits files by byte range, but a
            # sub-128MiB file is always one split). 16 MiB keeps small tables at one
            # file and gives an 8-way scan per 128 MiB; on a cluster it also spreads the
            # copy across executors.
            n_parts = max(1, -(-size // (16 * 1024 * 1024)))
            (
                self.spark.read.parquet(remote_path)
                .coalesce(n_parts)
                .write.mode("overwrite")
                .parquet(local)
            )
        else:
            # sessionless mode (the rubix_cache DataSource planner runs in a python
            # worker with no SparkSession): whole-file copy instead of a distributed job
            os.makedirs(local, exist_ok=True)
            if os.path.isdir(remote_path):
                for root, _, files in os.walk(remote_path):
                    for fn in files:
                        shutil.copy2(os.path.join(root, fn), os.path.join(local, fn))
            else:
                shutil.copy2(remote_path, os.path.join(local, os.path.basename(remote_path)))

    # ------------------------------------------------------------------ row-group granularity
    # The reference caches 1 MiB blocks with a per-block bitmap (FileMetadata.java:96-97)
    # so a selective query warms only the blocks it touches. Parquet's natural block is
    # the row group: these three methods give the same economics — footer-stats pruning
    # picks the relevant row groups, warm materializes ONLY those (one local file per
    # group; at cluster scale each group is an independent copy task), and reads are
    # served from the subset as long as it covers the request and is fresh.

    def relevant_row_groups(self, remote_path: str, column: str, lo=None, hi=None) -> list[int]:
        """Row-group pruning from parquet footer min/max statistics (conservative:
        groups without stats are kept). Single-file paths only. The footer comes from
        the per-version footer cache, so only its first read per file version pays the
        ranged GET."""
        meta = footer.file_meta(remote_path, on_read=self._remote_penalty)
        out = []
        for i, cols in enumerate(meta.stats):
            st = cols.get(column)  # (min, max, has_nulls)
            if st is not None and ((lo is not None and st[1] < lo) or (hi is not None and st[0] > hi)):
                continue
            out.append(i)
        return out

    @staticmethod
    def _rg_key(remote_path: str) -> str:
        return remote_path + "#rg"

    @staticmethod
    def _rg_files(local: str, row_groups: list[int]) -> list[str]:
        return [os.path.join(local, f"rg_{i:05d}.parquet") for i in row_groups]

    # A4 request collation (ReadRequestChain.java:71-90 merge, :92-116 chunking):
    # adjacent row groups merge into ONE backend ranged read; runs longer than
    # ``max_run`` split so a single huge read can't monopolize memory/bandwidth.
    MAX_COLLATED_RUN = 16

    @staticmethod
    def collate(row_groups: list[int], max_run: int | None = None) -> list[list[int]]:
        max_run = max_run or CacheManager.MAX_COLLATED_RUN
        runs: list[list[int]] = []
        for i in sorted(set(row_groups)):
            if runs and i == runs[-1][-1] + 1 and len(runs[-1]) < max_run:
                runs[-1].append(i)
            else:
                runs.append([i])
        return runs

    def warm_row_groups(self, remote_path: str, row_groups: list[int]) -> str | None:
        """A6 read-through at sub-file granularity: materialize only the given row
        groups (merged with any already-cached subset), one local parquet per group."""
        if not self.cacheable(remote_path) or self.dummy:
            return None
        key = self._rg_key(remote_path)
        mtime, rsize = _mtime_size(remote_path)
        prev = self.manifest.get(key)
        have = set(prev.row_groups or []) if prev is not None and self._fresh(prev, remote_path) else set()
        want = sorted(set(row_groups) | have)
        gen = self.manifest.next_generation(key)
        # the local dir derives from the manifest KEY (…#rg), not the raw remote path:
        # whole-file and row-group granularities of one path must never share a
        # directory, or the whole-file hit path would read the rg_* subset files too
        # (silently duplicated rows) and invalidating either granularity would rmtree
        # the other's live data
        local = self._local_dir(key, gen)
        os.makedirs(local, exist_ok=True)
        try:
            fetch = set(want) - have
            for i in sorted(have & set(want)):
                try:
                    shutil.copy2(
                        os.path.join(prev.local_path, f"rg_{i:05d}.parquet"),
                        os.path.join(local, f"rg_{i:05d}.parquet"),
                    )
                except (FileNotFoundError, NotADirectoryError):
                    # a concurrent evict/invalidate deleted prev's dir between the
                    # manifest read and the copy — the group is simply not-have;
                    # refetch from remote
                    fetch.add(i)
            # collated fetch (A4): one backend read per contiguous run, sliced back
            # into per-group local files (the serving granularity)
            self._fetch_runs(remote_path, local, self.collate(sorted(fetch)))
            size = sum(os.path.getsize(os.path.join(local, f)) for f in os.listdir(local))
        except BaseException:
            # same no-partial-dir-leak contract as warm() (generated schedules, r13)
            shutil.rmtree(local, ignore_errors=True)
            raise
        # the commit tombstones the previous subset's dir: its readers may be in flight
        entry = Entry(remote_path=key, local_path=local, size_bytes=size, last_modified=mtime,
                      generation=gen, row_groups=want, remote_size=rsize)
        return local if self._commit(entry, "warmed_files") else None

    def _fetch_runs(self, remote_path: str, local: str, runs: list[list[int]]) -> None:
        """A19's parallel downloader at row-group granularity: each collated run is an
        independent EXECUTOR task (``FileDownloader.java:194-239`` fans chunks across a
        thread pool; here the fan-out is a Spark job, so at cluster scale each run is
        fetched by whichever executor owns the split — the driver never materializes
        data). Sessionless callers (the DataSource planner worker) fetch inline.

        Local-mode note: executors share the driver's filesystem, so writes to ``local``
        are immediately servable; on a real cluster ``local`` must be a shared or
        per-node cache mount (docs/LOCALITY.md covers the deployment shape).
        """

        latency_s = self.remote_latency_s

        def fetch(run: list[int]) -> int:
            import time as _time

            import pyarrow.parquet as pq

            if latency_s > 0.0:
                _time.sleep(latency_s)  # one ranged GET per collated run, paid in-task
            pf = pq.ParquetFile(remote_path)
            tbl = pf.read_row_groups(run)
            offset = 0
            for i in run:
                n = pf.metadata.row_group(i).num_rows
                pq.write_table(tbl.slice(offset, n), os.path.join(local, f"rg_{i:05d}.parquet"))
                offset += n
            return len(run)

        if not runs:
            return
        if self.spark is not None:
            sc = self.spark.sparkContext
            sc.parallelize(runs, len(runs)).map(fetch).collect()
        else:
            for run in runs:
                fetch(run)

    def read_row_groups(self, remote_path: str, row_groups: list[int], warm_on_miss: bool = True) -> DataFrame:
        """Serve specific row groups: from the cached subset when it covers the request
        and is fresh, else warm-through (or raw remote when warming is off/gated).
        TTL expiry applies exactly as in ``read()`` (A16 expireAfterWrite parity)."""
        key = self._rg_key(remote_path)
        want = sorted(set(row_groups))
        df = self._lookup(
            key, remote_path, lambda e: self._memo_df(e, tuple(want), self._rg_files(e.local_path, want)), want
        )
        if df is not None:
            return df
        if warm_on_miss and self.cacheable(remote_path) and not self.dummy:
            local = self.warm_row_groups(remote_path, want)
            df = self._serve_warmed(key, local, tuple(want), self._rg_files(local, want)) if local else None
            if df is not None:
                return df
        self._remote_penalty()
        return self.spark.read.parquet(remote_path)

    def read_range(self, remote_path: str, column: str, lo=None, hi=None, warm_on_miss: bool = True) -> DataFrame:
        """Predicate-driven cached read: prune row groups by footer stats, serve/warm
        only those, and re-apply the predicate as the residual filter (stats pruning is
        conservative, so the filter — not the pruning — defines the result)."""
        rgs = self.relevant_row_groups(remote_path, column, lo, hi)
        if not rgs:
            return self.spark.read.parquet(remote_path).where("1=0")
        df = self.read_row_groups(remote_path, rgs, warm_on_miss=warm_on_miss)
        c = df[column]
        if lo is not None:
            df = df.where(c >= lo)
        if hi is not None:
            df = df.where(c <= hi)
        return df

    # ------------------------------------------------------------------ read path
    def _lookup(
        self, key: str, remote_path: str, serve: Callable[[Entry], T], want: Iterable[int] = ()
    ) -> T | None:
        """The one hit/miss decision (CachingInputStream.java:315-500) for manifest
        ``key`` over ``remote_path``: ``serve(entry)`` on a hit, None on a miss.

        A hit is an entry within its TTL (A16 expireAfterWrite), covering the row groups
        in ``want`` and fresh; an expired or stale entry is invalidated. When ``serve``
        fails on the local copy the entry is invalidated and the read counts as a
        fallback and a miss (corruption fallback, CachedReadRequestChain.java:204-223),
        or raises CacheReadError in strict mode."""
        entry = self.manifest.get(key)
        ttl = self.ttl_seconds
        if entry is not None and ttl is not None and time.time() - entry.last_access > ttl:
            self.invalidate(key)
            entry = None
        if entry is not None and set(want) <= set(entry.row_groups or ()):
            if self._fresh(entry, remote_path):
                self.manifest.touch(key)
                try:
                    out = serve(entry)
                    with self._lock:
                        self._counters["hits"] += 1
                    return out
                except Exception:
                    if self.strict:
                        raise CacheReadError(f"cached read failed for {key}")
                    self.invalidate(key)
                    with self._lock:
                        self._counters["fallbacks"] += 1
            else:
                self.invalidate(key)
        with self._lock:
            self._counters["misses"] += 1
        return None

    def read(self, remote_path: str, warm_on_miss: bool = True) -> DataFrame:
        """RubiX's per-read routing at file granularity.

        CACHED+fresh → local parquet; stale → invalidate, re-warm; miss → warm inline
        (read-through, A6) or serve remote directly when warming is off / path gated.
        """
        df = self._lookup(remote_path, remote_path, lambda e: self._memo_df(e, None, [e.local_path]))
        if df is not None:
            return df
        if warm_on_miss and self.cacheable(remote_path) and not self.dummy:
            local = self._fetch_from_peer(remote_path)
            if local is not None:
                return self.spark.read.parquet(local)
            if self._warmup is not None:
                # A10 parallel warm-up: serve the caller from remote NOW, warm behind
                self._warmup.enqueue(remote_path)
                self._remote_penalty()
                return self.spark.read.parquet(remote_path)
            local = self.warm(remote_path)
            df = self._serve_warmed(remote_path, local, None, [local]) if local else None
            if df is not None:
                return df
        self._remote_penalty()
        return self.spark.read.parquet(remote_path)

    def resolve(self, remote_path: str) -> str:
        """The path a scan that opens files itself (the rubix_cache DataSource) should
        read: the local copy on a hit, else a read-through warm's copy, else the remote
        path (gated, dummy, or the copy lost its commit or was evicted at once)."""

        def serve(entry: Entry) -> str:
            _require([entry.local_path])
            return entry.local_path

        local = self._lookup(remote_path, remote_path, serve) or self.warm(remote_path)
        return local if local and self.manifest.get(remote_path) is not None else remote_path

    def _fetch_from_peer(self, remote_path: str) -> str | None:
        """A8/A9: pull a peer daemon's CACHED copy into this node's cache on a miss.

        Costs one LAN transfer instead of an object-store read (which pays
        ``remote_latency_s`` per trip here). The fetched copy commits through the
        normal generation CAS, so staleness/eviction semantics are identical to a
        locally-warmed entry; a losing CAS (someone re-warmed concurrently) discards
        the fetch. Any peer failure degrades silently to the remote path — peer
        serving is an optimization, never a correctness dependency."""
        if self.peer_client is None:
            return None
        local = None
        try:
            status = self.peer_client.get_cache_status(remote_path)
            if status.get("state") != CACHED:
                return None
            gen = self.manifest.next_generation(remote_path)
            local = self._local_dir(remote_path, gen)
            header = self.peer_client.fetch(remote_path, local)
            entry = Entry(remote_path=remote_path, local_path=local, size_bytes=header["size_bytes"],
                          last_modified=header["last_modified"], generation=gen)
            if not self._commit(entry, "peer_fetches"):
                return None
            return local if self.manifest.get(remote_path) is not None else None
        except Exception:
            # degrade to remote — and never leak the partial transfer dir (a peer
            # that evicted between status and fetch aborts mid-stream; r13 schedules)
            if local is not None:
                shutil.rmtree(local, ignore_errors=True)
            return None

    def _fresh(self, entry: Entry, remote_path: str) -> bool:
        """A16 staleness: compare remote lastModified/size with the cached values.

        A vanished remote is NOT stale — serving deleted-behind-us data from cache is the
        reference's signature behavior (TestCachingInputStream.java:165-177).
        """
        try:
            mtime, size = _mtime_size(remote_path)
        except FileNotFoundError:
            return True
        expected = entry.remote_size if entry.remote_size is not None else entry.size_bytes
        return mtime == entry.last_modified and size == expected

    def flush_trash(self) -> None:
        """Delete every tombstoned dir now, grace or not (shutdown/test hook)."""
        self.manifest.reclaim(force=True)

    # ------------------------------------------------------------------ invalidation
    def invalidate(self, remote_path: str) -> None:
        """Drop the cached copy and bump the generation (BookKeeper.invalidateFileMetadata)."""
        entry = self.manifest.remove(remote_path)
        with self._lock:
            self._df_memo.pop(remote_path, None)
        if entry:
            self.manifest.next_generation(remote_path)
            with self._lock:
                self._counters["invalidations"] += 1

    # ------------------------------------------------------------------ eviction
    def evict_to_budget(self) -> int:
        """LRU eviction until under budget (Guava weigher analog, BookKeeper.java:656-686).

        Deletion is two-phase (``Manifest.remove``): manifest removal is immediate,
        the unlink waits out a reader grace period."""
        if self.budget_bytes is None:
            return 0
        evicted = 0
        with self._lock:
            while self.manifest.total_bytes() > self.budget_bytes:
                lru = min(self.manifest.entries(), key=lambda e: e.last_access, default=None)
                if lru is None:
                    break
                removed = self.manifest.remove(lru.remote_path)
                if removed is None:
                    continue  # raced an invalidate; re-read total_bytes
                self._df_memo.pop(removed.remote_path, None)
                evicted += 1
                self._counters["evictions"] += 1
        return evicted

    # ------------------------------------------------------------------ validation
    def drain_warmup(self, timeout: float = 60.0) -> bool:
        """Block until queued background warm-ups finish (test/shutdown hook)."""
        return self._warmup.drain(timeout) if self._warmup else True

    def validate(self, repair: bool = True) -> dict:
        """Self-test sweep — A25 (CachingValidator / FileValidator analog).

        Checks every manifest entry's local copy exists and is readable metadata-wise;
        broken entries are invalidated (repair=True) so the next read falls back to
        remote and re-warms. Also sweeps AGED orphan dirs — fcache dirs owned by no
        live entry or tombstone (a process killed mid-warm leaves one;
        no in-process failure path can cover that) — but only past a conservative age
        so a concurrent manager's in-flight warm (dir exists, commit pending) is never
        touched. Returns {checked, broken, repaired, orphans_swept}.
        """
        checked = broken = repaired = 0
        for entry in self.manifest.entries():
            checked += 1
            ok = os.path.isdir(entry.local_path) and any(
                f.endswith(".parquet") for f in os.listdir(entry.local_path)
            )
            if not ok:
                broken += 1
                if repair:
                    self.invalidate(entry.remote_path)
                    repaired += 1
        orphans_swept = 0
        if repair:
            owned = {e.local_path for e in self.manifest.entries()}
            with self.manifest._lock:
                owned.update(self.manifest._tombstones)
            min_age = self.manifest.RECLAIM_GRACE + 60.0
            fcache = os.path.join(self.cache_dir, "fcache")
            now = time.time()
            for name in os.listdir(fcache):
                path = os.path.join(fcache, name)
                if path in owned:
                    continue
                try:
                    if now - os.path.getmtime(path) < min_age:
                        continue
                except OSError:
                    continue
                shutil.rmtree(path, ignore_errors=True)
                orphans_swept += 1
        return {"checked": checked, "broken": broken, "repaired": repaired,
                "orphans_swept": orphans_swept}

    # ------------------------------------------------------------------ metrics
    def stats(self) -> dict:
        """A27 metrics surface: hit/miss rates + cache size (BookKeeper.java:203-246)."""
        with self._lock:
            c = dict(self._counters)
        total = c["hits"] + c["misses"]
        c["hit_rate"] = (c["hits"] / total) if total else 0.0
        c["cached_bytes"] = self.manifest.total_bytes()
        c["cached_files"] = len(self.manifest.entries())
        return c
