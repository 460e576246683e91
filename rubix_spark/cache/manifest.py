"""Cache manifest: the metadata/ownership layer of the cache (reference parity A12-A17).

The reference keeps, per cached file, a bitmap mdfile plus a generation number
(``rubix-bookkeeper/.../FileMetadata.java:96-97, 125-182``) and checks staleness by
``lastModified`` (``BookKeeper.java:295-305, 774-777``).  We cache whole parquet
files/directories (Spark's natural unit — a row-group re-read costs the same scan task)
and row-group subsets under a ``<path>#rg`` key, which a whole-file copy of the path
replaces (``CacheManager._commit``), so the manifest is one entry per key:

    remote_path -> {local_path, size_bytes, last_modified, generation, last_access, state}

Every entry is CACHED (local copy valid), the one state of the thrift ``Location`` enum
(``bookkeeper.thrift:6-10``) that applies driver-side; the field stays in the JSON so
existing manifests load.  Directories that leave the manifest (superseded, invalidated or
evicted) are tombstoned and deleted after a grace period.  Persistence is a JSON file
next to the cached data, rewritten atomically; generation numbers survive restarts
exactly like the ``_g<N>`` file suffixes (``rubix-spi/.../CacheUtil.java:162-167``).
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from rubix_spark.cache import footer


CACHED = "CACHED"


@dataclass
class Entry:
    remote_path: str
    local_path: str
    size_bytes: int
    last_modified: float
    generation: int
    state: str = CACHED
    last_access: float = field(default_factory=time.time)
    # sub-file granularity (FileMetadata.java:96-97's block bitmap, at parquet's natural
    # block size — the row group): which remote row groups this entry materializes.
    # None → whole file. size_bytes is then the LOCAL subset size (what eviction weighs);
    # remote_size carries the full remote size for the staleness compare.
    row_groups: list[int] | None = None
    remote_size: int | None = None


class Manifest:
    """Thread-safe AND multi-writer-safe, JSON-persisted map of cached files.

    Several processes (concurrent Spark apps sharing one cache dir — the reference's
    BookKeeper serving many engines, ``BookKeeper.java:248-353``) may hold independent
    ``Manifest`` objects over the same path.  Every structural mutation
    (``next_generation``/``put``/``remove``) takes an exclusive ``flock`` on
    ``<path>.lock``, reloads disk state, applies the change, and atomically rewrites —
    so the generation counter is a true cross-process CAS: two writers warming the same
    remote path get DIFFERENT generations and only the later one's ``put`` commits
    (``BookKeeper.java:413-453`` semantics).  Readers detect out-of-band changes via a
    cheap stat signature and reload.

    ``touch()`` (the per-cache-hit LRU timestamp) is in-memory with periodic flush —
    a synchronous whole-manifest rewrite per hit would throttle the read path at
    thousands of entries. Lost touches on crash or reload only age LRU ordering, never
    correctness (reloads keep the max of disk/memory timestamps); structural mutations
    always flush.
    """

    TOUCH_FLUSH_INTERVAL = 5.0  # seconds between touch-driven flushes
    # a dir that leaves the manifest survives this long, so a reader in any process
    # holding a lazy DataFrame over it can still run its action; reclaimed by the next
    # structural mutation past the grace
    RECLAIM_GRACE = 60.0

    def __init__(self, path: str):
        self._path = path
        self._lock = threading.RLock()
        self._entries: dict[str, Entry] = {}
        # highest generation ever seen per remote path, even after eviction — a stale
        # writer can never resurrect an invalidated copy (FileMetadata.java:125-182)
        self._generations: dict[str, int] = {}
        # superseded local dirs awaiting grace-period reclaim: {local_path: deadline}
        self._tombstones: dict[str, float] = {}
        self._dirty_touches = 0
        self._last_flush = time.time()
        self._disk_sig: tuple[int, int] | None = None
        self._load()

    @contextmanager
    def _file_lock(self):
        """Exclusive cross-process lock (the BookKeeper's single-writer section)."""
        fd = os.open(self._path + ".lock", os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _stat_sig(self) -> tuple[int, int] | None:
        try:
            st = os.stat(self._path)
            return (st.st_mtime_ns, st.st_size)
        except FileNotFoundError:
            return None

    def _load(self) -> None:
        sig = self._stat_sig()
        if sig is not None:
            with open(self._path) as f:
                raw = json.load(f)
            self._entries = {k: Entry(**v) for k, v in raw.get("entries", {}).items()}
            self._generations = dict(raw.get("generations", {}))
            self._tombstones = dict(raw.get("tombstones", {}))
        self._disk_sig = sig

    def _refresh_locked(self) -> None:
        """Reload disk state (caller holds the file lock), keeping the max of disk and
        in-memory last_access per key so pending touches don't regress LRU order."""
        old_access = {k: e.last_access for k, e in self._entries.items()}
        self._load()
        for k, e in self._entries.items():
            prev = old_access.get(k)
            if prev is not None and prev > e.last_access:
                e.last_access = prev

    def _maybe_refresh(self) -> None:
        """Reader-side: pick up another process's committed changes (stat-cheap)."""
        if self._stat_sig() != self._disk_sig:
            with self._file_lock():
                self._refresh_locked()

    def _save(self) -> None:
        tmp = self._path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "entries": {k: asdict(v) for k, v in self._entries.items()},
                    "generations": self._generations,
                    "tombstones": self._tombstones,
                },
                f,
            )
        os.replace(tmp, self._path)
        self._disk_sig = self._stat_sig()
        self._dirty_touches = 0
        self._last_flush = time.time()

    def get(self, remote_path: str) -> Entry | None:
        with self._lock:
            self._maybe_refresh()
            return self._entries.get(remote_path)

    def touch(self, remote_path: str) -> None:
        with self._lock:
            e = self._entries.get(remote_path)
            if e:
                e.last_access = time.time()
                self._dirty_touches += 1
                if time.time() - self._last_flush >= self.TOUCH_FLUSH_INTERVAL:
                    with self._file_lock():
                        self._refresh_locked()
                        self._save()

    def flush(self) -> None:
        """Force pending touch timestamps to disk (shutdown/test hook)."""
        with self._lock:
            if self._dirty_touches:
                with self._file_lock():
                    self._refresh_locked()
                    self._save()

    def next_generation(self, remote_path: str) -> int:
        with self._lock, self._file_lock():
            self._refresh_locked()
            g = self._generations.get(remote_path, 0) + 1
            self._generations[remote_path] = g
            self._save()
            return g

    def put(self, entry: Entry) -> bool:
        """Commit an entry iff its generation is current (CAS — BookKeeper.java:427-431).

        The check runs against RELOADED disk state under the file lock, so a writer
        whose generation was surpassed by another process loses the race here."""
        with self._lock, self._file_lock():
            self._refresh_locked()
            if entry.generation != self._generations.get(entry.remote_path, 0):
                return False
            prev = self._entries.get(entry.remote_path)
            self._entries[entry.remote_path] = entry
            # a superseded commit (the previous copy of a re-warm or row-group merge, or
            # another writer that raced and landed first) is unreachable via the manifest
            if prev is not None and prev.local_path != entry.local_path:
                self._tombstone_locked(prev.local_path)
            self._sweep_tombstones_locked()
            self._save()
            return True

    def _tombstone_locked(self, local_path: str) -> None:
        """Schedule the delete of a dir that left the manifest (caller holds both locks)."""
        footer.forget(local_path)
        self._tombstones[local_path] = time.time() + self.RECLAIM_GRACE

    def _sweep_tombstones_locked(self, force: bool = False) -> bool:
        """Delete tombstoned dirs past their grace deadline, or all of them when
        ``force`` (caller holds both locks). True when any tombstone went."""
        now = time.time()
        due = [p for p, deadline in self._tombstones.items() if force or now >= deadline]
        for path in due:
            shutil.rmtree(path, ignore_errors=True)
            del self._tombstones[path]
        return bool(due)

    def reclaim(self, force: bool = False) -> None:
        """Sweep expired tombstones (``force=True`` ignores the grace period)."""
        with self._lock, self._file_lock():
            self._refresh_locked()
            self._sweep_tombstones_locked(force)
            self._save()

    def remove(self, remote_path: str) -> Entry | None:
        """Drop an entry, deleting its dir in two phases (evict, invalidate).

        The entry leaves lookups and budget accounting at once, but its dir is only
        tombstoned: the files stay until RECLAIM_GRACE has passed, so an in-flight
        Spark scan planned over the copy can finish. A scan resolves absolute file
        paths at plan time, and unlinking them mid-read fails the whole job (seen once
        in the sf1 eviction-stress phase as FAILED_READ_FILE.FILE_NOT_EXIST when an
        eviction raced a concurrent reader). A re-warm never collides with a tombstoned
        dir: every warm commits under a bumped generation into a fresh directory. The
        tombstone is persisted, so the delete outlives the process that scheduled it."""
        with self._lock, self._file_lock():
            self._refresh_locked()
            e = self._entries.pop(remote_path, None)
            if e:
                self._tombstone_locked(e.local_path)
            if self._sweep_tombstones_locked() or e:
                self._save()
            return e

    def entries(self) -> list[Entry]:
        with self._lock:
            self._maybe_refresh()
            return list(self._entries.values())

    def total_bytes(self) -> int:
        with self._lock:
            self._maybe_refresh()
            return sum(e.size_bytes for e in self._entries.values())
