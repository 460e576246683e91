"""Idle re-measurement of individual registered queries (invariant 11 protocol:
min-of-N with per-run prints so a host stall is visible, bench-like session confs,
layouts prebuilt untimed).  Usage:

    python tools/time_query.py q30_yoy_delta q30_yoy_delta_shuffle [--sf DIR] [--n 5]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--n", type=int, default=5)
    ap.add_argument("--analyze", action="store_true")
    ap.add_argument("--gated", action="store_true",
                    help="bracket every run with the host canary (same as RUBIX_TIME_GATED=1)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from rubix_spark import catalog
    from rubix_spark.queries import load_all
    from rubix_spark.session import static_confs

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.master(f"local[{cpus}]").config("spark.sql.shuffle.partitions", cpus)
    # the static confs ride the launch SparkConf exactly as in session.py (codegen
    # cache size, zip-free Python workers), or A/Bs and the bench measure different
    # engines
    for k, v in static_confs().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    catalog.ensure_session_confs(spark)
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()

    from rubix_spark.sources.bucketing import bucketed_table

    for name, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey"),
                      ("orders", "o_custkey"), ("customer", "c_custkey")):
        bucketed_table(spark, args.sf, name, key)
    reg["q20_time_bucket"].builder(spark, args.sf)
    from rubix_spark.ops.similarity import _ivf_index, _lsh_index

    _lsh_index(spark, args.sf)
    _ivf_index(spark, args.sf)
    if args.analyze:
        catalog.analyze(spark, args.sf, route=True)

    gated = args.gated or os.environ.get("RUBIX_TIME_GATED") == "1"
    if gated:
        # r14 protocol: bracket every timed run with the host canary and discard
        # runs in degraded windows (this VM slows SIMD work up to ~50x — see
        # tools/host_canary.py); keep sampling until --n healthy runs per query
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from host_canary import canary, healthy

    for name in args.names:
        q = reg[name]
        # warmup (plan caches, JIT)
        q.builder(spark, args.sf).write.format("noop").mode("overwrite").save()
        samples = []
        discarded = 0
        attempts = 0
        while len(samples) < args.n and attempts < 4 * args.n:
            attempts += 1
            if gated:
                s0, c0 = canary()
            t0 = time.perf_counter()
            q.builder(spark, args.sf).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if gated:
                s1, c1 = canary()
                if not (healthy(s0, c0) and healthy(s1, c1)):
                    discarded += 1
                    continue
            samples.append(dt)
        tag = f"  discarded={discarded}" if gated else ""
        if not samples:
            # every attempt landed in a degraded window — report and keep going so
            # the remaining queries' results aren't lost with a ValueError
            print(f"{name}: NO HEALTHY SAMPLES (all {attempts} attempts canary-discarded){tag}")
            continue
        print(f"{name}: min={min(samples):.3f}s  samples={[round(s, 3) for s in samples]}{tag}")


if __name__ == "__main__":
    main()
