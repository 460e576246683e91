"""Seeded input generators for the benchmark.

``tables`` writes a star-schema fixture directory with the schema and value
distributions of the program's parquet fixtures (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings). ``scale``
follows TPC-H: 0.1 gives 600k lineitem rows. The documents and embeddings
tables are written ``LLM_PARTS`` times over, as directories of part files.

``RemoteStore`` writes the cache workload's "remote" parquet files: slices of a
generated lineitem table, each sorted on ``l_orderkey`` and cut into many row
groups. A rewrite replaces a file with a new version whose content, size and
mtime all differ, the way an object-store overwrite does; the store keeps the
exact checksum of every version so a stale read is caught.

The same seed always gives byte-identical content.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PART_ADJ = ("red", "new", "hot", "small", "large", "cold", "old", "blue")
PART_NOUN = ("bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo")
PART_TYPES = ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
LANGS = ("en", "zh", "es", "fr", "de")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMBED_DIM = 64
LLM_PARTS = 2
# the cache workload's remote store: file count, base rows per file, rows per row group
N_FILES = 10
STORE_ROWS = 20_000
ROW_GROUP_ROWS = 1_500


def dir_bytes(path: str) -> int:
    """Total size of the files under ``path``; files deleted while walking count 0."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(rng: np.random.Generator, start: dt.datetime, days: int, n: int, unit_s: int) -> pa.Array:
    base = np.datetime64(start, "us")
    step = np.timedelta64(unit_s, "s").astype("timedelta64[us]")
    return pa.array(base + rng.integers(0, days * 86400 // unit_s, n) * step, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int, first_id: int) -> pa.Table:
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]) for _ in range(n)]
    # 5% near duplicates: an earlier document's text plus a marker token
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{(first_id + i) % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, first_id: int) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def lineitem(rng: np.random.Generator, n: int, n_orders: int, n_parts: int, n_supp: int) -> pa.Table:
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ("N", "R", "A"), n),
        "l_linestatus": _pick(rng, ("O", "F"), n),
        "l_shipdate": _ts(rng, dt.datetime(1995, 1, 2), 2498, n, 86400),
    })


def tables(out_dir: str, seed: int, scale: float) -> None:
    """Write every fixture table of one seed under ``out_dir``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_vec, n_users = int(50_000 * scale), int(20_000 * scale), int(15_000 * scale)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, tbl: pa.Table) -> None:
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))

    write("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS, pa.string())}))
    write("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    write("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    }))
    write("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }))
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    write("part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    }))
    write("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ("O", "F", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng, dt.datetime(1995, 1, 1), 2404, n_ord, 86400),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    }))
    write("lineitem", lineitem(rng, n_line, n_ord, n_part, n_supp))
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)) + np.datetime64(dt.datetime(2024, 1, 1), "us")
    write("events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
    }))
    for name, make, n in (("documents", _documents, n_doc), ("embeddings", _embeddings, n_vec)):
        part_dir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(part_dir, exist_ok=True)
        for i in range(LLM_PARTS):
            pq.write_table(make(rng, n, i * n), os.path.join(part_dir, f"part-{i:05d}.parquet"))


# ---------------------------------------------------------------- cache workload store

class RemoteStore:
    """Seeded "remote" parquet files with a known checksum per file version.

    A checksum is ``(rows, sum(l_orderkey), sum(l_partkey))`` over the whole file
    or over an ``l_orderkey`` range; every value is an exact integer.
    """

    KEY, VAL = "l_orderkey", "l_partkey"

    def __init__(self, root: str, seed: int):
        self.root = root
        self.seed = seed
        self.version = [0] * N_FILES
        self._cols: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = [None] * N_FILES
        os.makedirs(root, exist_ok=True)
        for i in range(N_FILES):
            self._write(i)

    def path(self, i: int) -> str:
        return os.path.join(self.root, f"part-{i:03d}.parquet")

    def _write(self, i: int) -> None:
        v = self.version[i]
        rng = np.random.default_rng([self.seed, i, v])
        # file sizes vary 1x..3x; each version drops a few rows so the size changes
        n = int(STORE_ROWS * (1 + 2 * ((i * 7919) % N_FILES) / N_FILES)) - 37 * v
        tbl = lineitem(rng, n, n_orders=10 * n, n_parts=20_000, n_supp=1_000).sort_by(self.KEY)
        tmp = self.path(i) + ".tmp"
        pq.write_table(tbl, tmp, row_group_size=ROW_GROUP_ROWS)
        os.replace(tmp, self.path(i))
        # object-store overwrite semantics: every version carries a new lastModified
        mtime = 1_700_000_000 + 1000 * v + i
        os.utime(self.path(i), (mtime, mtime))
        key = tbl.column(self.KEY).to_numpy()
        val = tbl.column(self.VAL).to_numpy()
        self._cols[i] = (key, np.concatenate([[0], np.cumsum(key)]), np.concatenate([[0], np.cumsum(val)]))

    def rewrite(self, i: int) -> None:
        self.version[i] += 1
        self._write(i)

    def key_max(self, i: int) -> int:
        return int(self._cols[i][0][-1])

    def checksum(self, i: int, lo: int | None = None, hi: int | None = None) -> tuple[int, int, int]:
        key, ksum, vsum = self._cols[i]
        a = 0 if lo is None else int(np.searchsorted(key, lo, "left"))
        b = len(key) if hi is None else int(np.searchsorted(key, hi, "right"))
        return b - a, int(ksum[b] - ksum[a]), int(vsum[b] - vsum[a])

    def size(self, i: int) -> int:
        return os.path.getsize(self.path(i))

    def total_bytes(self) -> int:
        return sum(self.size(i) for i in range(N_FILES))
