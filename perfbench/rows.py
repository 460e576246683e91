"""The ``warehouse_llm`` workload: registry rows in a closed loop.

One client runs passes over the workload's rows; each pass is a permutation
of every row, so every run measures the same mix. The seed varies the data. An op is the
row's ``builder(spark, sf_dir)`` call followed by a ``noop`` write that
materialises every output column, as the program's own bench does.

Set-up builds the layouts and ANN indexes the rows read, then makes one
untimed pass in which every row's output is collected and compared with its
DuckDB oracle answer. After the timed window a second untimed pass checks
each row again, so an answer that goes wrong only on a repeat call is caught
too. A row that does not match in either pass counts every one of its ops as
failed.
"""

from __future__ import annotations

import os
import pickle
import random
import shutil
import time

from perfbench.gen import dir_bytes

# relational rows (queries, events layouts in sources) and LLM-pipeline rows
# (ops kernels, ANN index, Arrow Python workers), all sub-second, so a 10 s
# window holds several whole passes; see NOTES.md for the choice
ROWS = (
    "q1_scan_filter", "q5_theta_join", "q12_rollup", "q17_scalar_funcs", "q20_time_bucket",
    "x7_asof_join", "x1_dedup_exact", "x2_ann_ivf", "x4_udf_scalar",
)
# traced runs add the streaming row to every pass, so the streaming layer is
# traced; at 2-3 s per op it would dominate the untraced mix and its spread
TRACE_ROWS = ("s7_stream_incremental_dedup",)
# the ANN rows write their bucketed index on the first builder() call
INDEX_ROWS = ("x2_ann_ivf",)

SCALE = 0.02  # TPC-H scale of the generated fixture
# untimed, unrecorded passes between set-up and the window. The JVM keeps
# compiling the planner and codegen paths for tens of seconds after the first
# pass: a pass took ~2.8 s right after set-up and ~2.0 s some 40 s later, so a
# window opened straight after set-up measured a steep part of that curve
WARM_PASSES = 4


def layer_of(row: str) -> str:
    return {"q": "queries", "s": "streaming"}.get(row[0], "ops")


def prepare(seed: int, cache_root: str) -> str:
    """Generate the fixture and its oracle answers once per seed."""
    from perfbench import gen
    from rubix_spark.queries import load_all
    from tests.oracle_utils import run_oracle

    out = os.path.join(cache_root, f"sf{SCALE}-x{gen.LLM_PARTS}-seed{seed}")
    if os.path.exists(os.path.join(out, "oracles.pkl")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    gen.tables(tmp, seed, SCALE)
    reg = load_all()
    # oracle SQL reads <sf_dir>/<table>.parquet, so answers are computed on the final
    # path; a directory left by an interrupted run (no oracles.pkl) is replaced
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    answers = {r: run_oracle(reg[r].oracle, out) for r in ROWS + TRACE_ROWS}
    with open(os.path.join(out, "oracles.pkl.tmp"), "wb") as f:
        pickle.dump(answers, f)
    os.replace(os.path.join(out, "oracles.pkl.tmp"), os.path.join(out, "oracles.pkl"))
    return out


def matches(got, want) -> bool:
    """Order-insensitive equality of a Spark result and its oracle answer (both pandas)."""
    import pandas as pd

    from tests.oracle_utils import canonical

    want = want.rename(columns=str.lower)
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False

    def rows(pdf):
        return [tuple(None if v is None or v is pd.NaT else v for v in r)
                for r in pdf.itertuples(index=False, name=None)]

    return canonical(list(got.columns), rows(got)) == canonical(list(want.columns), rows(want))


def _consume(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class RowsWorkload:
    clients = 1

    def __init__(self, spark, sf_dir: str, tracer, status, traced_run: bool = False) -> None:
        from rubix_spark.queries import load_all

        self.spark = spark
        self.sf_dir = sf_dir
        self.rows = ROWS + (TRACE_ROWS if traced_run else ())
        self.reg = load_all()
        # the pass order is the same under every seed; the seed varies the data
        self.rng = random.Random("passes")
        self.tracer = tracer
        self.status = status
        with open(os.path.join(sf_dir, "oracles.pkl"), "rb") as f:
            self.oracles = pickle.load(f)
        self.bad_rows: set[str] = set()
        self.setup_failures: list[dict] = []  # bad rows fail their timed ops instead
        self.setup_parts: dict[str, float] = {}
        self.records: list[dict] = []

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        from rubix_spark.sources.bucketing import events_user_layout

        spark, sf = self.spark, self.sf_dir
        # bench.py's size policy: ANALYZE only for inputs of 64 MiB and more
        t = time.perf_counter()
        if dir_bytes(sf) >= 64 * 2**20:
            from rubix_spark import catalog

            catalog.analyze(spark, sf, route=True)
        self.setup_parts["catalog.analyze_s"] = time.perf_counter() - t

        t = time.perf_counter()
        if "x7_asof_join" in self.rows:
            events_user_layout(spark, sf)
        if "q20_time_bucket" in self.rows:
            self.reg["q20_time_bucket"].builder(spark, sf)  # events-by-hour layout
        self.setup_parts["sources.layout_build_s"] = time.perf_counter() - t

        t = time.perf_counter()
        for row in self.rows:
            if row in INDEX_ROWS:
                self.reg[row].builder(spark, sf)
        self.setup_parts["ops.index_build_s"] = time.perf_counter() - t

        # warm pass: JIT/codegen, Python workers, lazily built layouts; outputs checked
        self.setup_parts["setup.warm_pass_s"] = self._check_pass()

    def _check_pass(self) -> float:
        """Collect every row once and compare it with its oracle; returns the time spent collecting."""
        spent = 0.0
        for row in self.rows:
            t = time.perf_counter()
            got = self.reg[row].builder(self.spark, self.sf_dir).toPandas()
            spent += time.perf_counter() - t
            if not matches(got, self.oracles[row]):
                self.bad_rows.add(row)
        return spent

    # ------------------------------------------------------------ timed window
    def warm_up(self) -> None:
        """Run ``WARM_PASSES`` untimed passes and drop their records."""
        for _ in range(WARM_PASSES):
            self.run_pass(traced=False)
        del self.records[:]

    def run_pass(self, traced: bool) -> None:
        order = list(self.rows)
        self.rng.shuffle(order)
        if traced:
            self.status.mark()
        self.tracer.enabled = traced
        for row in order:
            rec = {"row": row, "traced": traced, "ok": row not in self.bad_rows}
            op_id = len(self.records)
            t0 = time.perf_counter()
            try:
                with self.tracer.span("bench.op", op_id=op_id):
                    with self.tracer.span(f"{layer_of(row)}.build"):
                        df = self.reg[row].builder(self.spark, self.sf_dir)
                    t1 = time.perf_counter()
                    w1 = time.time()
                    with self.tracer.span("engine.consume"):
                        _consume(df)
                    w2 = time.time()
            except Exception as e:  # a failing op is counted, not fatal
                rec["ok"] = False
                rec["error"] = repr(e)[:300]
                t1 = w1 = w2 = None
            t2 = time.perf_counter()
            rec.update(latency=t2 - t0)
            if t1 is not None:
                rec.update(build_s=t1 - t0, consume_s=t2 - t1, consume_wall=(w1, w2))
            if traced:
                rec["engine"] = self.status.collect()
            self.records.append(rec)
        self.tracer.enabled = False

    def finish(self) -> dict:
        """Check every row again, now as a repeat call; a row that fails here fails all its ops."""
        self._check_pass()
        for rec in self.records:
            if rec["row"] in self.bad_rows:
                rec["ok"] = False
                rec.setdefault("error", f"{rec['row']}: output differs from its oracle answer")
        return {}

