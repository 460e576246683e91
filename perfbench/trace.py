"""Spans, Spark status-store readings and per-layer reductions for traced runs.

Spans are recorded in memory from the benchmark's own code around calls into
the program: name, start, end, parent, and the id of the op that caused it.
In a traced cache run the public ``CacheManager``/``Manifest`` methods are also
wrapped from inside the benchmark process, so their calls become child spans.
A layer's self time is its spans' time minus the part their child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import re
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @property
    def op_id(self):
        return getattr(self._local, "op", None)

    @contextlib.contextmanager
    def span(self, name: str, op_id=None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        if op_id is not None:
            self._local.op = op_id
        rec = {"name": name, "op": self.op_id, "parent": stack[-1]["id"] if stack else None,
               "start": time.perf_counter(), "end": None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, cls, method: str, name: str) -> None:
        """Record every call of ``cls.method`` as a span named ``name``."""
        inner = getattr(cls, method)
        tracer = self

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return inner(*args, **kwargs)

        setattr(cls, method, traced)

    def done(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """{layer: seconds}: each span's duration minus what its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"].split(".")[0]] += (s["end"] - s["start"]) - _union(children[s["id"]])
    return dict(out)


# ---------------------------------------------------------------- Spark status store

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _parse_size(text: str) -> float:
    """Bytes from an SQL size metric ("1.2 MiB" or a "total (min, med, max)" block)."""
    m = re.match(r"\s*([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)", text.strip().splitlines()[-1])
    return float(m.group(1).replace(",", "")) * _SIZE[m.group(2)] if m else 0.0


class StatusStore:
    """Reads stages, jobs and SQL-node metrics that completed since the last call.

    Stage metrics come from the core status store (the 5-argument ``stageList``);
    Arrow/Python exec-node byte counts come from the SQL status store.
    """

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._core = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._seen_stages: set[tuple[int, int]] = set()
        self._seen_jobs: set[int] = set()
        self._seen_execs: set[int] = set()
        self.mark()

    @staticmethod
    def _iter(seq):
        it = seq.iterator()
        while it.hasNext():
            yield it.next()

    def _stages(self) -> list:
        return list(self._iter(self._core.stageList(None, False, False, self._no_quantiles, None)))

    def mark(self) -> None:
        """Forget everything that has already run."""
        self._seen_stages = {(s.stageId(), s.attemptId()) for s in self._stages()}
        self._seen_jobs = {j.jobId() for j in self._iter(self._core.jobsList(None))}
        self._seen_execs = {e.executionId() for e in self._iter(self._sql.executionsList())}

    def collect(self) -> dict:
        """Totals over the stages, jobs and SQL executions new since the last call."""
        out = defaultdict(float)
        intervals = []
        for s in self._stages():
            key = (s.stageId(), s.attemptId())
            if key in self._seen_stages or s.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            self._seen_stages.add(key)
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["run_s"] += s.executorRunTime() / 1e3
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            out["shuffle_read_mb"] += (s.shuffleRemoteBytesRead() + s.shuffleLocalBytesRead()) / 2**20
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
            out["input_mb"] += s.inputBytes() / 2**20
            sub, comp = s.submissionTime(), s.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
        for j in self._iter(self._core.jobsList(None)):
            if j.jobId() not in self._seen_jobs and j.status().toString() != "RUNNING":
                self._seen_jobs.add(j.jobId())
                out["jobs"] += 1
        for e in self._iter(self._sql.executionsList()):
            eid = e.executionId()
            if eid in self._seen_execs or not e.completionTime().isDefined():
                continue
            self._seen_execs.add(eid)
            values = self._sql.executionMetrics(eid)
            for node in self._iter(self._sql.planGraph(eid).allNodes()):
                for m in self._iter(node.metrics()):
                    name = m.name()
                    if "Python workers" not in name or not name.startswith("data "):
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        key = "python_mb_sent" if "sent" in name else "python_mb_returned"
                        out[key] += _parse_size(v.get()) / 2**20
        out["stage_intervals"] = intervals
        return out


def stage_idle(consume: tuple[float, float], stage_intervals: list[tuple[float, float]]) -> float:
    """Part of a consume span (wall-clock seconds) when no stage was active."""
    s0, e0 = consume
    clipped = [(max(s, s0), min(e, e0)) for s, e in stage_intervals if e > s0 and s < e0]
    return max(0.0, (e0 - s0) - _union(clipped))
