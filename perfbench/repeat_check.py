#!/usr/bin/env python3
"""Which per-layer counts repeat exactly across two traced runs of one seed.

Run from the root of a checkout:

    python3 perfbench/repeat_check.py [--seed N] [--seconds S] [workload ...]

For each workload it makes two traced runs with the same seed and prints,
per count metric (units count*, B*), both values and whether they match.
Times are left out: they never repeat exactly. It also prints each run's
tracing overhead line, when the run could compute one.
"""
import argparse
import json
import pathlib
import subprocess
import sys

RUN = pathlib.Path(__file__).resolve().parent / "run.py"
WORKLOADS = ("parquet_merge", "tx_cdc", "pipeline_queries")


def traced(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if out.returncode != 0:
        sys.exit(f"{workload}: traced run failed (exit {out.returncode})")
    lines = out.stdout.strip().splitlines()
    for line in lines:
        if line.startswith('{"tracing_overhead"'):
            print(f"  {workload}: {line}")
    return json.loads(lines[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    args = ap.parse_args()
    for w in args.workloads:
        a, b = traced(w, args.seed, args.seconds), traced(w, args.seed, args.seconds)
        print(f"== {w} (seed {args.seed})")
        for name, m in a.items():
            if not (m["unit"].startswith("count") or m["unit"].startswith("B")):
                continue
            x, y = m["value"], b[name]["value"]
            if x == 0 and y == 0:
                continue
            print(f"  {'repeats' if x == y else 'DIFFERS':8s} {name:28s} {x} {y}")


if __name__ == "__main__":
    main()
