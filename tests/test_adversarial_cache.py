"""Adversarial cache schedules (r12 verdict #3): GENERATED op sequences against the
cache layer, the way test_adversarial_relational.py generated warehouse edges.

The hand-enumerated cache tests are green, but r12 proved generated edges find what
enumeration misses (11 defects in one pass). Here the generator draws random
schedules over the cache op grammar — warm / row-group warm / invalidate (either
granularity) / evict / remote rewrite / behind-the-back dir loss / trash flush /
validate — and checks the CONTRACT invariants after every step:

  I1 serve-fresh correctness: any CACHED entry that passes the freshness signature
     and whose files are readable must hold exactly the remote content it claims
     (whole file, or per row group for #rg entries); unreadable-but-fresh is the
     documented corruption-fallback path, never an accepted wrong answer.
  I2 budget: manifest bytes <= budget after any op that ends in evict_to_budget.
  I3 generation monotonicity: the per-key generation high-water never decreases.
  I4 end-state hygiene: after flush_trash + tombstone reclaim, every fcache dir is
     a live entry's dir (no orphans), and validate() leaves zero broken entries.

Layers: sequential seeded schedules (semantics), thread storms on one manager
(in-process races: invalidate-during-warm, evict-during-read), process storms on a
shared cache dir (flock/generation CAS contention), plus the named boundary cases
from the verdict — eviction grace-window edge, peer-fetch of a just-evicted entry,
row-group-subset vs whole-file overlap.

Managers run sessionless (spark=None -> inline copies) so schedules execute in
milliseconds; the Spark read path over this same machinery is covered by
tests/test_cache*.py and the bench cache scenarios.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import random
import shutil
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rubix_spark.cache import CacheManager
from rubix_spark.cache.manifest import CACHED, Manifest


# ---------------------------------------------------------------- fixture corpus


def _write_remote(path: str, n_rows: int, salt: int, row_group_size: int = 100) -> None:
    tbl = pa.table({
        "k": pa.array(range(n_rows), pa.int64()),
        "v": pa.array([(i * 31 + salt) % 1000 for i in range(n_rows)], pa.int64()),
    })
    pq.write_table(tbl, path, row_group_size=row_group_size)


def _canon(tbl: pa.Table):
    return tbl.sort_by("k").to_pydict()


def _read_dir(d: str) -> pa.Table:
    files = sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )
    return pa.concat_tables([pq.read_table(f) for f in files])


@pytest.fixture()
def remotes(tmp_path):
    rd = tmp_path / "remote"
    rd.mkdir()
    paths = []
    for i, n in enumerate((400, 700, 1000)):
        p = str(rd / f"t{i}.parquet")
        _write_remote(p, n, salt=i)
        paths.append(p)
    return paths


# ---------------------------------------------------------------- invariant checks


def _check_serve_fresh(cm: CacheManager, paths: list[str]) -> None:
    """I1: every fresh CACHED entry with readable files holds the remote content."""
    skip = (FileNotFoundError, NotADirectoryError, pa.ArrowInvalid, OSError)
    for e in cm.manifest.entries():
        if e.state != CACHED:
            continue
        base = e.remote_path.split("#", 1)[0]
        if base not in paths or not cm._fresh(e, base):
            continue
        # double-check pattern for the concurrent layers: a remote rewrite can land
        # between the freshness check and the comparison (and even tear the remote
        # read itself) — compute both sides, RE-verify freshness, only then assert.
        # A corruption-fallback skip (local files already unlinked) is the read()
        # contract, never an accepted wrong answer.
        if e.row_groups is None:
            try:
                got = _canon(_read_dir(e.local_path))
                want = _canon(pq.read_table(base))
            except skip:
                continue
            if not cm._fresh(e, base):
                continue
            assert got == want, f"fresh cached copy of {base} diverges from remote"
        else:
            for i in e.row_groups:
                f = os.path.join(e.local_path, f"rg_{i:05d}.parquet")
                try:
                    got = _canon(pq.read_table(f))
                    want = _canon(pq.ParquetFile(base).read_row_group(i))
                except skip:
                    continue
                if not cm._fresh(e, base):
                    continue
                assert got == want, (
                    f"fresh cached row group {i} of {base} diverges from remote"
                )


def _check_budget(cm: CacheManager) -> None:
    if cm.budget_bytes is not None:
        assert cm.manifest.total_bytes() <= cm.budget_bytes


def _check_generations(cm: CacheManager, high: dict) -> None:
    for k, g in dict(cm.manifest._generations).items():
        assert g >= high.get(k, 0), f"generation went backwards for {k}"
        high[k] = g


def _check_endstate(cm: CacheManager, paths: list[str]) -> None:
    """I4: repaired clean, no orphan dirs after trash flush + tombstone reclaim."""
    cm.flush_trash()
    cm.manifest.reclaim(force=True)
    rep = cm.validate(repair=True)
    again = cm.validate(repair=False)
    assert again["broken"] == 0, (rep, again)
    cm.flush_trash()
    cm.manifest.reclaim(force=True)
    live = {e.local_path for e in cm.manifest.entries()}
    fcache = os.path.join(cm.cache_dir, "fcache")
    orphans = {
        os.path.join(fcache, d) for d in os.listdir(fcache)
    } - live
    assert not orphans, f"orphan generation dirs: {orphans}"
    _check_serve_fresh(cm, paths)


# ---------------------------------------------------------------- schedule runner


def _one_op(cm: CacheManager, paths: list[str], rng: random.Random, salt: list) -> str:
    p = rng.choice(paths)
    op = rng.choice(
        ["warm", "warm", "warm", "warm_rg", "warm_rg", "invalidate",
         "invalidate_rg", "evict", "rewrite", "flush", "validate", "break_dir"]
    )
    if op == "warm":
        cm.warm(p)
    elif op == "warm_rg":
        n_rg = pq.ParquetFile(p).metadata.num_row_groups
        want = rng.sample(range(n_rg), k=rng.randint(1, min(3, n_rg)))
        cm.warm_row_groups(p, want)
    elif op == "invalidate":
        cm.invalidate(p)
    elif op == "invalidate_rg":
        cm.invalidate(p + "#rg")
    elif op == "evict":
        cm.evict_to_budget()
    elif op == "rewrite":
        salt[0] += 1
        _write_remote(p, rng.choice([300, 500, 800, 1100]), salt=salt[0])
    elif op == "flush":
        cm.flush_trash()
    elif op == "validate":
        cm.validate(repair=True)
    elif op == "break_dir":
        e = cm.manifest.get(p)
        if e is not None:
            shutil.rmtree(e.local_path, ignore_errors=True)
    return op


def _run_schedule(cm: CacheManager, paths: list[str], rng: random.Random,
                  n_ops: int, check_each: bool = True) -> None:
    high: dict = {}
    salt = [100]
    for _ in range(n_ops):
        if check_each:
            op = _one_op(cm, paths, rng, salt)
            _check_serve_fresh(cm, paths)
            if op in ("warm", "warm_rg", "evict"):
                _check_budget(cm)
            _check_generations(cm, high)
        else:
            # concurrent layers: a warm racing a rewrite may fail on a torn remote
            # read — the op surfacing an error to its caller is fine; the CONTRACT
            # is that the cache neither leaks the partial dir nor serves bad data
            try:
                _one_op(cm, paths, rng, salt)
            except (pa.ArrowInvalid, OSError):
                pass


@pytest.mark.parametrize("seed", range(12))
def test_generated_sequential_schedules(remotes, tmp_path, seed):
    """Seeded random schedules, every invariant after every op."""
    one_file = os.path.getsize(remotes[-1])
    cm = CacheManager(None, str(tmp_path / f"cache{seed}"),
                      budget_bytes=int(one_file * 1.7))
    cm.manifest.RECLAIM_GRACE = 0.05 if seed % 3 == 0 else 60.0  # grace boundary variety
    _run_schedule(cm, remotes, random.Random(1000 + seed), n_ops=25)
    _check_endstate(cm, remotes)


@pytest.mark.parametrize("seed", range(4))
def test_generated_thread_storm(remotes, tmp_path, seed):
    """4 threads × random schedules on ONE manager: invalidate-during-warm,
    evict-during-warm, concurrent row-group merges. Invariants at the end (the
    per-step checker itself would race); serve-fresh must hold at every moment,
    so one dedicated reader thread re-checks it continuously."""
    cm = CacheManager(None, str(tmp_path / f"cache{seed}"),
                      budget_bytes=int(os.path.getsize(remotes[-1]) * 2.2))
    cm.manifest.RECLAIM_GRACE = 60.0
    stop = threading.Event()
    errs: list = []

    def reader():
        while not stop.is_set():
            try:
                _check_serve_fresh(cm, remotes)
            except AssertionError as e:  # pragma: no cover - the defect path
                errs.append(e)
                return

    def worker(wseed: int):
        try:
            _run_schedule(cm, remotes, random.Random(wseed), n_ops=15,
                          check_each=False)
        except AssertionError as e:  # pragma: no cover
            errs.append(e)

    rt = threading.Thread(target=reader)
    rt.start()
    ts = [threading.Thread(target=worker, args=(seed * 10 + i,)) for i in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(120)
    stop.set()
    rt.join(30)
    assert not errs, errs[0]
    _check_endstate(cm, remotes)


def _proc_schedule(cache_dir: str, paths: list[str], wseed: int, q) -> None:
    try:
        cm = CacheManager(None, cache_dir,
                          budget_bytes=int(os.path.getsize(paths[-1]) * 2.2))
        cm.manifest.RECLAIM_GRACE = 0.05
        rng = random.Random(wseed)
        for _ in range(10):
            p = rng.choice(paths)
            op = rng.choice(["warm", "warm", "warm_rg", "invalidate", "evict"])
            if op == "warm":
                cm.warm(p)
            elif op == "warm_rg":
                n_rg = pq.ParquetFile(p).metadata.num_row_groups
                cm.warm_row_groups(p, [rng.randrange(n_rg)])
            elif op == "invalidate":
                cm.invalidate(p)
            else:
                cm.evict_to_budget()
        cm.flush_trash()
        q.put(None)
    except Exception as e:  # pragma: no cover - the defect path
        q.put(repr(e))


@pytest.mark.parametrize("seed", range(2))
def test_generated_process_storm(remotes, tmp_path, seed):
    """3 processes × random schedules over a SHARED cache dir: the flock CAS under
    genuinely contended generation races; final manifest must be consistent and
    fresh entries must serve remote content."""
    cache_dir = str(tmp_path / f"cache{seed}")
    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    ps = [
        ctx.Process(target=_proc_schedule, args=(cache_dir, remotes, seed * 10 + i, q))
        for i in range(3)
    ]
    for p in ps:
        p.start()
    for p in ps:
        p.join(120)
        assert p.exitcode == 0
    for _ in ps:
        assert q.get(timeout=5) is None
    m = Manifest(os.path.join(cache_dir, "manifest.json"))
    for e in m.entries():
        assert e.generation == m._generations[e.remote_path]
        assert os.path.isdir(e.local_path), f"live entry without files: {e.remote_path}"
    cm = CacheManager(None, cache_dir)
    _check_serve_fresh(cm, remotes)


# ---------------------------------------------------------------- named boundaries


def test_grace_window_boundary(remotes, tmp_path):
    """Two-phase eviction edge: with a live grace, a reader holding the resolved
    local path across an invalidate can still read its bytes; at grace 0 the files
    are gone by the next reclaim. Either way the manifest entry vanishes instantly."""
    p = remotes[0]
    cm = CacheManager(None, str(tmp_path / "cache"))
    cm.manifest.RECLAIM_GRACE = 60.0
    local = cm.warm(p)
    assert local and os.path.isdir(local)
    cm.invalidate(p)
    assert cm.manifest.get(p) is None  # phase 1: immediate metadata removal
    got = _read_dir(local)             # phase 2 pending: in-flight reader survives
    assert _canon(got) == _canon(pq.read_table(p))
    cm.flush_trash()
    assert not os.path.isdir(local)

    cm2 = CacheManager(None, str(tmp_path / "cache2"))
    cm2.manifest.RECLAIM_GRACE = 0.0
    local2 = cm2.warm(p)
    cm2.invalidate(p)
    cm2.manifest.reclaim()
    assert not os.path.isdir(local2)


def test_peer_fetch_of_just_evicted_entry(remotes, tmp_path):
    """A peer daemon reports CACHED, then evicts before (or while) the fetch runs:
    the client must degrade to the remote path, never error, never commit a bogus
    entry. Exercised at both boundaries — status-then-invalidate (manifest gone)
    and status-then-unlink (files gone during the data plane)."""
    from rubix_spark.cache.server import CacheClient, CacheServer

    p = remotes[0]
    srv = CacheServer(str(tmp_path / "peer_cache"))
    srv.serve_background()
    try:
        host, port = srv.address
        client = CacheClient(host, port)
        local_cm = CacheManager(None, str(tmp_path / "local_cache"),
                                peer_client=client)

        # boundary 1: entry evicted between get_cache_status and fetch
        client.warm(p)
        assert client.get_cache_status(p)["state"] == CACHED

        real_status = client.get_cache_status

        def status_then_evict(path):
            st = real_status(path)
            client.invalidate(path)     # the race: eviction lands after the status
            srv.manager.flush_trash()
            return st

        client.get_cache_status = status_then_evict
        assert local_cm._fetch_from_peer(p) is None  # degraded, no exception
        assert local_cm.manifest.get(p) is None      # nothing bogus committed
        client.get_cache_status = real_status

        # boundary 2: files unlinked behind the manifest during the data plane
        client.warm(p)
        e = srv.manager.manifest.get(p)
        shutil.rmtree(e.local_path, ignore_errors=True)
        assert local_cm._fetch_from_peer(p) is None
        assert local_cm.manifest.get(p) is None

        # sanity: an honest peer copy still transfers
        client.warm(p)
        local = local_cm._fetch_from_peer(p)
        assert local is not None
        assert _canon(_read_dir(local)) == _canon(pq.read_table(p))
    finally:
        srv.shutdown()


def test_rowgroup_subset_vs_whole_file_overlap(remotes, tmp_path):
    """The two granularities of one path never share a directory. A whole-file warm
    replaces the subset warmed before it: the subset leaves the manifest and its dir
    is tombstoned. A subset warmed after the whole copy lives beside it, and dropping
    either entry never harms the other's data."""
    p = remotes[2]  # 1000 rows, 10 row groups
    cm = CacheManager(None, str(tmp_path / "cache"))

    sub = cm.warm_row_groups(p, [1, 3])
    whole = cm.warm(p)
    assert sub != whole and os.path.isdir(whole)
    assert cm.manifest.get(p + "#rg") is None
    assert sub in cm.manifest._tombstones and os.path.isdir(sub)  # inside its grace
    _check_serve_fresh(cm, remotes)

    # whole-file copy holds ALL rows exactly once (an rg/whole dir share would
    # silently duplicate the subset's rows into the whole-file read)
    assert _canon(_read_dir(whole)) == _canon(pq.read_table(p))

    cm.manifest.RECLAIM_GRACE = 0.0
    sub = cm.warm_row_groups(p, [1, 3])
    assert sub != whole and os.path.isdir(sub)
    _check_serve_fresh(cm, remotes)
    cm.invalidate(p + "#rg")
    assert cm.manifest.get(p + "#rg") is None
    assert cm.manifest.get(p) is not None
    assert _canon(_read_dir(cm.manifest.get(p).local_path)) == _canon(pq.read_table(p))

    # re-warm the subset, then lose the whole-file copy: the repair drops only the
    # whole-file entry, and the subset stays intact
    cm.warm_row_groups(p, [0, 9])
    shutil.rmtree(cm.manifest.get(p).local_path)
    assert cm.validate()["repaired"] == 1
    assert cm.manifest.get(p) is None
    e = cm.manifest.get(p + "#rg")
    assert e is not None and sorted(e.row_groups) == [0, 9]
    _check_serve_fresh(cm, remotes)

    # subset MERGE under a concurrent rewrite: stale prior subset is discarded,
    # the merged entry re-fetches everything from the new remote
    _write_remote(p, 1000, salt=77)
    cm.warm_row_groups(p, [2])
    e = cm.manifest.get(p + "#rg")
    assert e is not None and e.row_groups == [2]
    _check_serve_fresh(cm, remotes)
