#!/usr/bin/env python3
"""Summarize benchmark result files.

    python3 perfbench/summarize.py perfbench/out/results/setA/*.json \
        perfbench/out/results/setB/*.json

Reads files written by sweep.py. Files in one directory form one set. Per
set, workload and metric it prints the number of runs, the median, the
first and third quartiles (statistics.quantiles, n=4) and the spread
(Q3 - Q1) / median, the steadiness figure checked against each end-to-end
metric's bound in BENCHMARK.json. With two or more sets it prints each
metric's median drift from the first set, signed so that positive is worse.
When untraced and traced runs of a workload are both present it prints the
tracing overhead: the share of untraced throughput (ops_per_s) that the
traced run (trace.ops_per_s) loses.
"""
import collections
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(paths):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    # (set, workload, trace) -> metric -> values
    runs = collections.defaultdict(lambda: collections.defaultdict(list))
    failures = collections.Counter()
    for p in paths:
        with open(p) as f:
            rec = json.load(f)
        res = rec["result"]
        key = (os.path.basename(os.path.dirname(os.path.abspath(p))),
               rec["workload"], rec["trace"])
        if not res["correct"] or res["failed"]:
            failures[key] += 1
        for name, m in res["metrics"].items():
            runs[key][name].append(m["value"])

    worst = 0.0
    medians = {}
    for key in sorted(runs):
        run_set, workload, trace = key
        metrics = runs[key]
        n = max(len(v) for v in metrics.values())
        print(f"\n{run_set}: {workload} (trace {trace}, {n} runs, "
              f"{failures[key]} with failures)")
        print(f"  {'metric':34} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>8} {'bound':>6}")
        for name in sorted(metrics):
            q1, med, q3 = quartiles(metrics[name])
            medians[key + (name,)] = med
            spread = (q3 - q1) / med if med else float("nan")
            bound = bounds.get(name)
            shown = ""
            if bound is not None:
                shown = f"{bound:6.2f}"
                worst = max(worst, spread / bound)
            print(f"  {name:34} {med:14.4f} {q1:14.4f} {q3:14.4f} {spread:8.3f} {shown}")

    sets = sorted({k[0] for k in runs})
    for later in sets[1:]:
        print(f"\nmedian drift of {later} from {sets[0]} (positive is worse):")
        for (s, workload, trace, name), med in sorted(medians.items()):
            base = medians.get((sets[0], workload, trace, name))
            if s != later or name not in bounds or not base:
                continue
            drift = (med - base) / base
            if better[name] == "higher":
                drift = -drift
            print(f"  {workload:10} {name:20} {drift:+8.3f}  (bound {bounds[name]:.2f})")

    for s in sets:
        for workload in sorted({k[1] for k in runs if k[0] == s}):
            plain = runs.get((s, workload, 0), {}).get("ops_per_s")
            traced = runs.get((s, workload, 1), {}).get("trace.ops_per_s")
            if plain and traced:
                overhead = 1 - statistics.median(traced) / statistics.median(plain)
                print(f"\n{s}: {workload} tracing overhead {overhead:.1%} of ops_per_s "
                      f"({len(plain)} untraced, {len(traced)} traced runs)")
    print(f"\nlargest spread / bound: {worst:.2f}")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
