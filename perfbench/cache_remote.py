"""The ``cache_remote`` workload: two clients reading a slow "remote" store through the cache.

Each client thread owns a ``CacheManager`` over one shared cache directory
(the multi-writer manifest path), with ``remote_latency_s=0.05`` and a budget
of about half the working set. Files are picked with Zipf skew, so the hot head
stays cached while the tail keeps evicting. The three op types each end in a
one-row checksum aggregate that is compared with the generator's checksum for
the file's current version:

- ``read``: a whole-file ``CacheManager.read``;
- ``range``: ``CacheManager.read_range`` on the sort key (the row-group path);
- ``scan``: a ``rubix_cache`` DataSource scan with a pushed range filter.

The DataSource resolves the file through a manager of its own, made in its
planning worker. That manager has no remote latency and no budget, and its
counters never reach the clients' ``stats()``. Scans therefore use a cache
directory of their own, so their copies do not push the clients' cache over
its budget, and they run only in traced runs (``trace_ops``), where they get
figures of their own (``cache.ds_*``). The timed mix is ``read`` and
``range`` ops.

The window is cut into epochs. Between epochs both clients are quiesced and the
generator rewrites a seeded ~5% of the files, which must then be detected as
stale, invalidated and warmed again. A stale answer fails its op.
"""

from __future__ import annotations

import itertools
import os
import random
import threading
import time

from perfbench.gen import N_FILES, RemoteStore, dir_bytes

REMOTE_LATENCY_S = 0.05
ZIPF_S = 2.0
# Latencies fall in clusters: read hits ~0.15 s, range hits ~0.4 s (the footer
# prune pays a remote trip even on a hit), misses 0.7-1.0 s. At 55/45 the
# median op sat on the edge between the first two clusters; at 35/65 it sits
# inside the range-hit cluster, so it cannot jump between them run to run
OP_WEIGHTS = {"read": 0.35, "range": 0.65}
# traced runs add the DataSource scan, which costs ~1.5 s even on a hit
# (Python planning and read workers) and bypasses the workload's cache settings
TRACE_OP_WEIGHTS = {"read": 0.28, "range": 0.52, "scan": 0.2}
RANGE_SLOTS = 2
# ops per client in set-up's steady-state warm-up (see setup)
WARM_OPS = 12


def _checksum(df) -> tuple[int, int, int]:
    from pyspark.sql import functions as F

    r = df.agg(F.count("*"), F.sum(RemoteStore.KEY), F.sum(RemoteStore.VAL)).collect()[0]
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


class CacheWorkload:
    clients = 2

    def __init__(self, spark, run_dir: str, seed: int, tracer, status, trace_ops: bool = False) -> None:
        self.spark = spark
        self.tracer = tracer
        self.status = status
        self.store = RemoteStore(os.path.join(run_dir, "remote"), seed)
        self.cache_dir = os.path.join(run_dir, "cache")
        self.ds_cache_dir = os.path.join(run_dir, "ds-cache")
        self.op_weights = TRACE_OP_WEIGHTS if trace_ops else OP_WEIGHTS
        self.ds_view = None  # reads the DataSource's manifest to classify scans
        self.budget = self.store.total_bytes() // 2
        # The traffic is the same under every seed: file i has popularity rank i, and
        # the op draws and the rewrite schedule come from fixed streams, so runs differ
        # in file contents only and p90 does not swing with which ops were drawn.
        self.weights = [1.0 / (k + 1) ** ZIPF_S for k in range(N_FILES)]
        self.rewrite_rng = random.Random("rewrites")
        self.managers = []
        self.setup_parts: dict[str, float] = {}
        self.setup_failures: list[dict] = []
        self.records: list[dict] = []
        self.disk_peak = 0
        # [(min key, max key, compressed bytes)] per row group of each file's current
        # version, read when the version is written so no op pays for the footer
        self.rg_meta = [self._footer(i) for i in range(N_FILES)]
        self._lock = threading.Lock()
        self._op_ids = itertools.count()

    def _footer(self, i: int) -> list[tuple[int, int, int]]:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(self.store.path(i)).metadata
        col = md.schema.names.index(self.store.KEY)
        groups = []
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            st = rg.column(col).statistics
            groups.append((st.min, st.max, sum(rg.column(c).total_compressed_size
                                               for c in range(rg.num_columns))))
        return groups

    # ------------------------------------------------------------ one op
    def _ds_fresh(self, path: str) -> bool:
        entry = self.ds_view.manifest.get(path)
        if entry is None:
            return False
        st = os.stat(path)
        return entry.last_modified == st.st_mtime and entry.size_bytes == st.st_size

    def _cached_groups(self, cm, path: str) -> set[int]:
        # the manager keys its row-group subset of a file as "<path>#rg"
        entry = cm.manifest.get(path + "#rg")
        st = os.stat(path)
        if entry is None or entry.last_modified != st.st_mtime or entry.remote_size != st.st_size:
            return set()
        return set(entry.row_groups or [])

    def op(self, client: int, kind: str, i: int, lo=None, hi=None, traced: bool = False) -> dict:
        cm = self.managers[client]
        path = self.store.path(i)
        expected = self.store.checksum(i, lo, hi)
        groups = self.rg_meta[i]
        kept = [g for g, (mn, mx, _) in enumerate(groups) if lo is None or (mx >= lo and mn <= hi)]
        op_key = (client, next(self._op_ids))
        rec = {"client": client, "kind": kind, "file": i, "traced": traced, "ok": False,
               "op_key": str(op_key), "served_bytes": sum(groups[g][2] for g in kept)}
        if kind == "range":
            rec.update(rg_kept=len(kept), rg_total=len(groups))
        before = cm.stats()
        prev_groups = self._cached_groups(cm, path) if kind == "range" else set()
        ds_hit = self._ds_fresh(path) if kind == "scan" else None
        t0 = time.perf_counter()
        try:
            with self.tracer.span("bench.op", op_id=str(op_key)):
                with self.tracer.span("cache.resolve"):
                    if kind == "read":
                        df = cm.read(path)
                    elif kind == "range":
                        df = cm.read_range(path, self.store.KEY, lo, hi)
                    else:
                        df = (self.spark.read.format("rubix_cache").option("path", path)
                              .option("cache_dir", self.ds_cache_dir).load())
                        df = df.where((df[self.store.KEY] >= lo) & (df[self.store.KEY] <= hi))
                t1 = time.perf_counter()
                with self.tracer.span("cache.scan"):
                    got = _checksum(df)
            rec["ok"] = got == expected
            if not rec["ok"]:
                rec["error"] = f"checksum {got} != {expected} (version {self.store.version[i]})"
        except Exception as e:  # a failing op is counted, not fatal
            rec["error"] = repr(e)[:300]
            t1 = None
        t2 = time.perf_counter()
        after = cm.stats()
        delta = {k: after[k] - before[k] for k in
                 ("hits", "misses", "evictions", "invalidations", "warmed_files", "fallbacks")}
        hit = ds_hit if kind == "scan" else delta["hits"] > 0 and delta["misses"] == 0
        rec.update(latency=t2 - t0, hit=bool(hit), delta=delta)
        if t1 is not None:
            rec.update(resolve_s=t1 - t0, scan_s=t2 - t1)
        if not hit and kind != "scan":
            if kind == "range":
                rec["remote_bytes"] = sum(groups[g][2] for g in kept if g not in prev_groups)
            else:
                rec["remote_bytes"] = self.store.size(i)
        if traced:
            with self._lock:
                self.disk_peak = max(self.disk_peak, dir_bytes(self.cache_dir))
        return rec

    def _draw(self, rng: random.Random):
        i = rng.choices(range(N_FILES), weights=self.weights)[0]
        kind = rng.choices(list(self.op_weights), weights=list(self.op_weights.values()))[0]
        if kind == "read":
            return kind, i, None, None
        # ranges come from a few fixed slots per file, so repeated ranges can hit
        kmax = self.store.key_max(i)
        lo = rng.randrange(RANGE_SLOTS) * kmax // RANGE_SLOTS
        return kind, i, lo, lo + kmax // (2 * RANGE_SLOTS)

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        from rubix_spark.cache.manager import CacheManager
        from rubix_spark.sources.cached_source import register_cache_source

        t = time.perf_counter()
        self.managers = [CacheManager(self.spark, self.cache_dir, budget_bytes=self.budget,
                                      remote_latency_s=REMOTE_LATENCY_S) for _ in range(self.clients)]
        if "scan" in self.op_weights:
            register_cache_source(self.spark)
            self.ds_view = CacheManager(None, self.ds_cache_dir)
        self.setup_parts["sources.layout_build_s"] = time.perf_counter() - t
        self.setup_parts["catalog.analyze_s"] = 0.0
        self.setup_parts["ops.index_build_s"] = 0.0
        # warm pass: every op type once, then whole-file reads down the popularity
        # ranking until the cache reaches its budget, then both clients run the
        # timed mix for WARM_OPS ops each, so the window starts at the cache's
        # steady state rather than in the cold start of its row-group entries
        t = time.perf_counter()
        recs = []
        for kind in self.op_weights:
            lo = None if kind == "read" else 0
            hi = None if kind == "read" else self.store.key_max(0) // (2 * RANGE_SLOTS)
            recs.append(self.op(0, kind, 0, lo, hi))
        for i in range(N_FILES):
            if self.managers[0].stats()["cached_bytes"] + self.store.size(i) > self.budget:
                break
            recs.append(self.op(1, "read", i))
        recs += self._closed_loop("warm", lambda start, done: done < WARM_OPS, traced=False)[0]
        self.setup_parts["setup.warm_pass_s"] = time.perf_counter() - t
        self.setup_failures = [r for r in recs if not r["ok"]]

    def _closed_loop(self, stream: str, more, traced: bool) -> tuple[list[dict], list[float]]:
        """Both clients issue ops back to back while ``more(start, ops done)`` holds.

        Returns the op records and each client's busy time: from the start to the
        end of its last op, so neither client's rate counts the time it waited
        for the other.
        """
        start = time.perf_counter()
        busy = [0.0] * self.clients
        recs: list[dict] = []
        errors = []

        def client(c: int) -> None:
            rng = random.Random(f"client{c}-{stream}")
            done = 0
            try:
                while more(start, done):
                    rec = self.op(c, *self._draw(rng), traced=traced)
                    done += 1
                    with self._lock:
                        recs.append(rec)
                busy[c] = time.perf_counter() - start
            except BaseException as e:  # surface to the main thread
                errors.append(e)

        threads = [threading.Thread(target=client, args=(c,)) for c in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        return recs, busy

    # ------------------------------------------------------------ timed window
    def run_epoch(self, seconds: float, traced: bool, epoch: int) -> list[float]:
        """Both clients run a closed loop for ``seconds``; returns each one's busy time."""
        if traced:
            self.status.mark()
        self.tracer.enabled = traced
        try:
            recs, busy = self._closed_loop(f"epoch{epoch}", lambda start, done: time.perf_counter() < start + seconds,
                                           traced)
        finally:
            self.tracer.enabled = False
        self.records += recs
        if traced:
            self.records.append({"engine_epoch": self.status.collect(), "traced": True})
        return busy

    def rewrite(self) -> None:
        """With both clients quiesced, rewrite a seeded ~5% of the files (at least one)."""
        for i in self.rewrite_rng.sample(range(N_FILES), max(1, round(0.05 * N_FILES))):
            self.rewrite_file(i)

    def rewrite_file(self, i: int) -> None:
        self.store.rewrite(i)
        self.rg_meta[i] = self._footer(i)

    def finish(self) -> dict:
        out = {"cached_mb_end": self.managers[0].stats()["cached_bytes"] / 2**20,
               "disk_peak_mb": self.disk_peak / 2**20}
        for cm in self.managers:
            cm.flush_trash()
        return out
