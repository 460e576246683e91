"""RPC tier (A22/A23 analog): an external process drives the cache daemon over TCP.

Deployment shape under test, mirroring the reference's BookKeeper daemon: the server
owns a cache dir; a client in a DIFFERENT process warms and inspects it; a Spark-side
CacheManager mounting the same dir then HITS what the remote client warmed (the
cross-engine serving path, coordinated through the flock'd manifest)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

import pytest

from rubix_spark.cache.server import CacheClient, CacheServer
from tests.conftest import SF_SMOKE

ORDERS = f"{SF_SMOKE}/orders.parquet"


def test_rpc_surface_and_cross_process_client(tmp_path):
    srv = CacheServer(str(tmp_path / "cache"))
    srv.serve_background()
    host, port = srv.address
    try:
        # out-of-process client (the non-Spark-engine posture)
        script = f"""
import json, sys
sys.path.insert(0, {json.dumps("/root/repo")})
from rubix_spark.cache.server import CacheClient
c = CacheClient({json.dumps(host)}, {port})
out = {{}}
out["ping"] = c.ping()["pong"]
out["before"] = c.get_cache_status({json.dumps(ORDERS)})["state"]
out["warm"] = bool(c.warm({json.dumps(ORDERS)})["local_path"])
out["after"] = c.get_cache_status({json.dumps(ORDERS)})["state"]
out["metrics"] = c.get_cache_metrics()["warmed_files"]
print(json.dumps(out))
"""
        proc = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=120)
        assert proc.returncode == 0, proc.stderr[-2000:]
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        assert out == {"ping": True, "before": "ABSENT", "warm": True, "after": "CACHED", "metrics": 1}

        # in-process client sees the same state (pipelining on one connection)
        c = CacheClient(host, port)
        assert c.get_cache_status(ORDERS)["state"] == "CACHED"
        entries = c.call("list_entries")
        assert entries["total_bytes"] > 0 and len(entries["entries"]) == 1
        assert c.call("validate", repair=True) == {"checked": 1, "broken": 0, "repaired": 0, "orphans_swept": 0}
        # unknown method → error response, connection stays usable
        try:
            c.call("no_such_method")
            raise AssertionError("expected failure")
        except RuntimeError as exc:
            assert "unknown method" in str(exc)
        assert c.ping()["pong"]
        c.close()
    finally:
        srv.shutdown()


def test_daemon_warm_is_served_to_spark_reader(tmp_path, spark):
    """What the RPC tier is FOR: a remote client warms; a Spark session mounting the
    same cache dir hits the warmed copy (manifest shared via flock, not via the
    daemon's memory)."""
    from pyspark.sql import functions as F

    from rubix_spark.cache.manager import CacheManager

    cache_dir = str(tmp_path / "cache")
    srv = CacheServer(cache_dir)
    srv.serve_background()
    host, port = srv.address
    try:
        CacheClient(host, port).warm(ORDERS)
        mgr = CacheManager(spark, cache_dir)
        df = mgr.read(ORDERS)
        assert mgr.stats()["hits"] == 1 and mgr.stats()["misses"] == 0
        direct = spark.read.parquet(ORDERS).agg(F.sum("o_orderkey")).collect()
        assert df.agg(F.sum("o_orderkey")).collect() == direct
    finally:
        srv.shutdown()


def test_client_retries_reach_late_server(tmp_path):
    """A23: the client retries with backoff — calls issued before the daemon binds the
    final port fail fast and reconnect (simulated by closing the first connection)."""
    srv = CacheServer(str(tmp_path / "cache"))
    srv.serve_background()
    host, port = srv.address
    try:
        c = CacheClient(host, port, retries=3)
        assert c.ping()["pong"]
        c._sock.close()  # sever the pooled connection behind the client's back
        assert c.ping()["pong"]  # retry path reconnects transparently
        c.close()
    finally:
        srv.shutdown()


def test_nonlocal_read_chain_peer_serves_before_remote(tmp_path, spark):
    """A8/A9: a miss on node B pulls node A's cached copy over the daemon socket
    instead of paying the (slow) remote — and commits it through the normal
    generation CAS so B serves locally from then on."""
    import time as _time

    from pyspark.sql import functions as F

    from rubix_spark.cache.manager import CacheManager
    from rubix_spark.cache.server import CacheClient, CacheServer

    node_a = CacheServer(str(tmp_path / "node_a"))
    node_a.serve_background()
    host, port = node_a.address
    try:
        node_a.manager.warm(ORDERS)  # owner node has it cached

        LAT = 2.0  # remote trips cost 2 s each; LAN peer fetch costs none
        node_b = CacheManager(
            spark, str(tmp_path / "node_b"), remote_latency_s=LAT,
            peer_client=CacheClient(host, port),
        )
        t0 = _time.perf_counter()
        df = node_b.read(ORDERS)
        got = df.agg(F.sum("o_orderkey")).collect()
        elapsed = _time.perf_counter() - t0
        assert elapsed < LAT  # served via peer: zero remote trips
        assert node_b.stats()["peer_fetches"] == 1 and node_b.stats()["misses"] == 1
        assert got == spark.read.parquet(ORDERS).agg(F.sum("o_orderkey")).collect()

        # second read: B's own cache hits, no peer round trip needed
        node_b.read(ORDERS)
        assert node_b.stats()["hits"] == 1 and node_b.stats()["peer_fetches"] == 1

        # peer miss degrades to the remote path, correctness preserved
        lineitem = f"{SF_SMOKE}/lineitem.parquet"
        df2 = node_b.read(lineitem)
        assert node_b.stats()["peer_fetches"] == 1  # peer had nothing to serve
        assert df2.count() == spark.read.parquet(lineitem).count()
    finally:
        node_a.shutdown()


def test_peer_fetch_keeps_a_partitioned_copy(tmp_path):
    """Hive partition dirs hold part files of the same name: a peer's copy must arrive
    with its relative paths, or one partition overwrites the other and rows go missing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rubix_spark.cache.manager import CacheManager

    remote = tmp_path / "remote.parquet"
    for part in ("p=0", "p=1"):
        (remote / part).mkdir(parents=True)
        pq.write_table(pa.table({"k": list(range(5))}), str(remote / part / "part-0.parquet"))
    peer = CacheServer(str(tmp_path / "node_a"))
    peer.serve_background()
    try:
        peer.manager.warm(str(remote))
        node_b = CacheManager(None, str(tmp_path / "node_b"), peer_client=CacheClient(*peer.address))
        local = node_b._fetch_from_peer(str(remote))
        assert local is not None and node_b.stats()["peer_fetches"] == 1
        names = sorted(os.path.relpath(os.path.join(d, f), local) for d, _, fs in os.walk(local) for f in fs)
        assert names == ["p=0/part-0.parquet", "p=1/part-0.parquet"]
        assert pq.read_table(local).num_rows == 10
    finally:
        peer.shutdown()


@pytest.mark.parametrize("hostile", ["../x", "/abs/x", "p=0/../../x", "."])
def test_peer_file_name_outside_the_destination_is_refused(tmp_path, hostile):
    """A peer names the files it streams; a name that is absolute or resolves outside
    the destination is refused before any byte is written, and the manager degrades to
    the remote without leaving a partial copy behind."""
    import socketserver

    from rubix_spark.cache.manager import CacheManager

    if hostile.startswith("/"):
        hostile = str(tmp_path / hostile.lstrip("/"))
    body = b"abc"

    class HostilePeer(socketserver.StreamRequestHandler):
        def handle(self):
            for line in self.rfile:
                method = json.loads(line)["method"]
                result = (
                    {"state": "CACHED"} if method == "get_cache_status" else
                    {"files": [{"name": hostile, "size": len(body)}], "generation": 1,
                     "size_bytes": len(body), "last_modified": 0}
                )
                self.wfile.write((json.dumps({"ok": True, "result": result}) + "\n").encode())
                if method == "fetch":
                    self.wfile.write(body)
                self.wfile.flush()

    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), HostilePeer)
    srv.daemon_threads = True
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        dest = tmp_path / "dest" / "copy"
        with pytest.raises(ValueError, match="leaves the destination"):
            CacheClient(*srv.server_address).fetch("/remote/t.parquet", str(dest))
        assert not dest.exists()

        cache = tmp_path / "cache"
        mgr = CacheManager(None, str(cache), peer_client=CacheClient(*srv.server_address))
        assert mgr._fetch_from_peer("/remote/t.parquet") is None
        assert mgr.stats()["peer_fetches"] == 0
        assert not (cache / "fcache").exists() or os.listdir(cache / "fcache") == []
        written = {os.path.relpath(os.path.join(d, f), tmp_path)
                   for d, _, fs in os.walk(tmp_path) for f in fs}
        assert not any(open(tmp_path / w, "rb").read() == body for w in written)
    finally:
        srv.shutdown()
        srv.server_close()


# ---------------------------------------------- adversarial request frames (r13)
def _raw(addr, payload: bytes, read_lines: int = 1, timeout=5.0):
    """Send raw bytes, read back up to ``read_lines`` JSON lines."""
    import socket as _socket

    s = _socket.create_connection(addr, timeout=timeout)
    try:
        s.sendall(payload)
        f = s.makefile("rb")
        return [f.readline() for _ in range(read_lines)]
    finally:
        s.close()


def test_hostile_frames_never_kill_the_daemon(tmp_path):
    """Generated hostile inputs against one live daemon: every frame gets either a
    JSON error or a dropped connection, the daemon answers a clean ping after each,
    and a good request PIPELINED AFTER a bad one on the same connection still works."""
    import json as _json

    srv = CacheServer(str(tmp_path / "cache"))
    srv.serve_background()
    try:
        addr = srv.address
        hostile = [
            b"not json at all\n",
            b"\x00\xff\xfe\x01binary junk\n",
            b'"just a string"\n',                      # JSON but not an object
            b"[1,2,3]\n",                              # JSON array
            b'{"method": 42}\n',                       # non-string method
            b'{"method": "warm"}\n',                   # missing params.path
            b'{"method": "warm", "params": 5}\n',      # params wrong type
            b'{"method": "no_such_method", "params": {}}\n',
            b'{"method": "evict", "params": {"budget_bytes": "NaN"}}\n',
            ("{" + "a" * 600_000 + "\n").encode(),     # huge but bounded garbage
        ]
        for frame in hostile:
            (resp,) = _raw(addr, frame)
            assert resp, f"connection died with no answer for {frame[:40]!r}"
            out = _json.loads(resp)
            assert out["ok"] is False and "error" in out
            # the daemon is still alive and sane after every hostile frame
            (pong,) = _raw(addr, b'{"method": "ping", "params": {}}\n')
            assert _json.loads(pong)["ok"] is True

        # well-formed-but-odd: a null path is an absent key, not a crash
        (resp,) = _raw(addr, b'{"method": "get_cache_status", "params": {"path": null}}\n')
        out = _json.loads(resp)
        assert out["ok"] is True and out["result"]["state"] == "ABSENT"

        # bad-then-good pipelined on ONE connection: the stream resynchronizes
        lines = _raw(addr, b"garbage\n" + b'{"method": "ping", "params": {}}\n', read_lines=2)
        assert _json.loads(lines[0])["ok"] is False
        assert _json.loads(lines[1])["result"]["pong"] is True
    finally:
        srv.shutdown()


def test_newlineless_flood_is_bounded_and_answered(tmp_path):
    """A frame with no newline inside the 1 MiB bound cannot be resynchronized:
    the daemon answers RequestTooLarge once and drops the connection instead of
    buffering the flood (pre-fix, `for line in rfile` read it ALL into memory)."""
    import json as _json

    srv = CacheServer(str(tmp_path / "cache"))
    srv.serve_background()
    try:
        addr = srv.address
        (resp,) = _raw(addr, b"x" * (2 << 20))  # 2 MiB, no newline
        out = _json.loads(resp)
        assert out["ok"] is False and "RequestTooLarge" in out["error"]
        # fresh connections are unaffected
        (pong,) = _raw(addr, b'{"method": "ping", "params": {}}\n')
        assert _json.loads(pong)["ok"] is True
    finally:
        srv.shutdown()


def test_warm_of_gated_path_is_denied_not_cached(tmp_path):
    """The RPC warm path honors the manager's allow/deny gate (A7): a daemon asked
    to warm an arbitrary non-parquet system path must not copy it into the cache."""
    srv = CacheServer(str(tmp_path / "cache"))
    srv.serve_background()
    try:
        host, port = srv.address
        cli = CacheClient(host, port)
        out = cli.warm("/etc/hostname")
        assert out["local_path"] is None
        # dotdot traversal through a real .parquet segment must not slip the gate:
        # the raw string contains '.parquet/' but normalizes to /etc/hostname
        out = cli.warm("/tmp/whatever.parquet/../../../etc/hostname")
        assert out["local_path"] is None
        assert cli.call("list_entries")["entries"] == []
        cli.close()
    finally:
        srv.shutdown()
