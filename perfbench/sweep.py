#!/usr/bin/env python3
"""Run the benchmark over several seeds and keep every result.

    python3 perfbench/sweep.py --workloads render lifecycle \
        --seeds 1-10 --trace 0 --out perfbench/out/results

Each run's result line is saved as <out>/<workload>-t<trace>-s<seed>.json,
wrapped with its workload, seed and trace flag; summarize.py reads them.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seed_list(text):
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", type=seed_list, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=os.path.join(HERE, "out", "results"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    os.makedirs(a.out, exist_ok=True)
    for w in a.workloads:
        for s in a.seeds:
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(seconds), "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{w} seed {s}: exit {proc.returncode}", file=sys.stderr)
                continue
            result = json.loads(lines[-1])
            with open(os.path.join(a.out, f"{w}-t{a.trace}-s{s}.json"), "w") as f:
                json.dump({"workload": w, "seed": s, "trace": a.trace,
                           "result": result}, f)
            print(f"{w} seed {s}: correct={result['correct']} "
                  f"attempted={result['attempted']} failed={result['failed']}",
                  file=sys.stderr)


if __name__ == "__main__":
    main()
