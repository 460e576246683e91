"""Self-tests of the benchmark (not of the program).

    python3 -m pytest perfbench/test_perfbench.py -q

- the status-store collector sees both stages and the shuffle of a groupBy;
- planted traps fire: a wrong expected answer, an answer that goes wrong
  only on repeat calls, and a stale read after a rewrite are all counted as
  failed ops;
- a smoke run at sf0.001 prints every metric BENCHMARK.json declares, with
  its unit, in both modes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    scratch = tmp_path_factory.mktemp("perfbench")
    os.environ["RUBIX_WAREHOUSE_DIR"] = str(scratch / "warehouse")
    os.environ["PYTHONPATH"] = ROOT
    from rubix_spark import get_session

    session = get_session(app_name="perfbench-selftest", cpus=2,
                          extra_conf={"spark.sql.adaptive.enabled": "false",
                                      "spark.local.dir": str(scratch / "local")})
    yield session
    from perfbench.run import _stop_spark

    _stop_spark(session)


def test_status_store_sees_exchange(spark):
    from pyspark.sql import functions as F

    from perfbench.trace import StatusStore

    status = StatusStore(spark)
    spark.range(20_000).groupBy((F.col("id") % 7).alias("k")).count().write.format("noop").mode(
        "overwrite").save()
    got = status.collect()
    assert got["stages"] == 2
    assert got["jobs"] == 1
    assert got["shuffle_write_mb"] > 0 and got["shuffle_read_mb"] > 0
    assert status.collect()["stages"] == 0  # nothing new since the last call


@pytest.fixture
def tiny_rows(spark, tmp_path, monkeypatch):
    """A one-row workload at sf0.001 with its oracle answers."""
    from perfbench import rows
    from perfbench.trace import Tracer

    monkeypatch.setattr(rows, "ROWS", ("q20_time_bucket",))
    monkeypatch.setattr(rows, "SCALE", 0.001)
    sf_dir = rows.prepare(3, str(tmp_path))
    wl = rows.RowsWorkload(spark, sf_dir, Tracer(), None)
    assert rows.matches(wl.reg["q20_time_bucket"].builder(spark, sf_dir).toPandas(),
                        wl.oracles["q20_time_bucket"])
    return wl


def test_wrong_expected_answer_fails_ops(tiny_rows):
    wl = tiny_rows
    wl.oracles["q20_time_bucket"] = wl.oracles["q20_time_bucket"].iloc[1:]  # planted: one row missing
    wl.setup()
    wl.run_pass(traced=False)
    wl.finish()
    assert wl.bad_rows == {"q20_time_bucket"}
    assert [r["ok"] for r in wl.records] == [False]


def test_wrong_answer_on_repeat_calls_fails_ops(tiny_rows):
    import dataclasses

    wl = tiny_rows
    wl.setup()
    assert not wl.bad_rows  # the warm pass saw the right answer
    row = wl.reg["q20_time_bucket"]

    def builder(spark, sf_dir):  # planted: one row short from now on
        df = row.builder(spark, sf_dir)
        return df.limit(df.count() - 1)

    wl.reg["q20_time_bucket"] = dataclasses.replace(row, builder=builder)
    wl.run_pass(traced=False)
    assert [r["ok"] for r in wl.records] == [True]
    wl.finish()
    assert [r["ok"] for r in wl.records] == [False]


def test_stale_read_after_rewrite_fails_op(spark, tmp_path, monkeypatch):
    from perfbench.cache_remote import CacheWorkload
    from perfbench.trace import Tracer
    from rubix_spark.cache.manager import CacheManager

    wl = CacheWorkload(spark, str(tmp_path), 5, Tracer(), None)
    wl.managers = [CacheManager(spark, wl.cache_dir, budget_bytes=wl.budget)]
    assert wl.op(0, "read", 0)["ok"]
    wl.rewrite_file(0)
    assert wl.op(0, "read", 0)["ok"]  # the rewrite is detected: invalidate + re-warm
    # planted: a cache that never checks freshness serves the old version
    monkeypatch.setattr(CacheManager, "_fresh", lambda self, entry, path: True)
    wl.rewrite_file(0)
    rec = wl.op(0, "read", 0)
    assert not rec["ok"] and "checksum" in rec["error"]


_SMOKE = """
import sys
sys.path.insert(0, {root!r})
from perfbench import rows, run
rows.SCALE = 0.001
sys.exit(run.main(sys.argv[1:]))
"""


def _processes_with_env(marker: str) -> list[int]:
    """Pids of live processes whose environment holds ``marker`` (inherited by every descendant)."""
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                if marker.encode() in f.read():
                    found.append(int(d))
        except OSError:
            continue
    return found


@pytest.mark.parametrize("workload", ["warehouse_llm", "cache_remote"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_prints_every_declared_metric(workload, trace, tmp_path):
    import uuid

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    marker = f"PERFBENCH_SMOKE={uuid.uuid4().hex}"
    env = dict(os.environ, PERFBENCH_SMOKE=marker.split("=", 1)[1])
    # output goes to files, not pipes: a pipe stays open while any process that
    # inherited it lives, so reading it to EOF would wait for a leaked JVM too
    out, err = tmp_path / "stdout", tmp_path / "stderr"
    with open(out, "w") as fo, open(err, "w") as fe:
        proc = subprocess.run(
            [sys.executable, "-c", _SMOKE.format(root=ROOT), "--workload", workload, "--seed", "2",
             "--seconds", "2", "--trace", str(trace)],
            cwd=ROOT, stdout=fo, stderr=fe, timeout=600, env=env)
    # the JVM and its Python workers have ended by the time the run exits
    assert _processes_with_env(marker) == []
    assert proc.returncode == 0, err.read_text()[-3000:]
    result = json.loads(out.read_text().strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "cache_remote", "--seed", "1",
                           "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True,
                          text=True, timeout=120)
    assert proc.returncode != 0 and proc.stdout == ""
