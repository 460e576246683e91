"""Per-layer deltas between two traced runs.

    python3 perfbench/layer_diff.py BASE_TRACE.json NEW_TRACE.json

Each input is a trace file written by ``run.py --trace 1``. For every layer it
prints the self time per op and every counter of both runs, the difference,
and the difference as a share of the base run's value (the base is named on
each line). Then it prints the mean latency of each row or op kind, so a
saving can be located in the op that made it.
"""

from __future__ import annotations

import argparse
import json
import sys
from collections import defaultdict


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _ratio(base: float, new: float) -> str:
    if base == 0:
        return "n/a (base 0)"
    return f"{(new - base) / base:+.1%} of base {base:.6g}"


def diff_lines(base: dict, new: dict) -> list[str]:
    lines = [f"base: {base['workload']} seed {base['seed']}   new: {new['workload']} seed {new['seed']}"]
    for label, t in (("base", base), ("new", new)):
        if not t["host_window"]["healthy"]:
            lines.append(f"WARNING: {label} run was taken in a degraded host window {t['host_window']}")
    by_layer: dict[str, list[str]] = defaultdict(list)
    for name in sorted(set(base["metrics"]) | set(new["metrics"])):
        by_layer[name.split(".")[0]].append(name)
    for layer, names in sorted(by_layer.items()):
        lines.append(f"[{layer}]")
        for name in names:
            a, b = (t["metrics"].get(name, {"value": 0.0})["value"] for t in (base, new))
            unit = (base["metrics"].get(name) or new["metrics"][name])["unit"]
            lines.append(f"  {name:40s} {a:12.6g} -> {b:12.6g} {unit:5s} delta {b - a:+.6g}  ({_ratio(a, b)})")
    lines.append("[per row / op kind: mean traced latency, s]")
    lat = [_mean_latency(base), _mean_latency(new)]
    for key in sorted(set(lat[0]) | set(lat[1])):
        a, b = lat[0].get(key, 0.0), lat[1].get(key, 0.0)
        lines.append(f"  {key:40s} {a:12.6g} -> {b:12.6g}  ({_ratio(a, b)})")
    return lines


def _mean_latency(trace: dict) -> dict[str, float]:
    groups: dict[str, list[float]] = defaultdict(list)
    for r in trace["records"]:
        if r.get("traced") and "latency" in r:
            groups[r.get("row") or r.get("kind")].append(r["latency"])
    return {k: sum(v) / len(v) for k, v in groups.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    args = ap.parse_args(argv)
    base, new = _load(args.base), _load(args.new)
    if base["workload"] != new["workload"]:
        print(f"workloads differ: {base['workload']} vs {new['workload']}", file=sys.stderr)
        return 2
    print("\n".join(diff_lines(base, new)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
