#!/usr/bin/env python3
"""Steadiness check: sets of benchmark runs, each run with its own seed.

    python3 perfbench/steady.py --workload ts_queries [--runs 10] [--sets 2]
        [--first-seed 1] [--seconds S]

For every metric, prints each set's median and its interquartile range
as a share of the median (statistics.quantiles, n=4), the share of
failed operations, and how far the second set's median lies from the
first's. Runs are sequential; run nothing else on the host meanwhile.
Each run's full output is kept in .perfbench/steady/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    log = os.path.join(ROOT, ".perfbench", "steady", f"{workload}-{seed}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as f:
        f.write(p.stdout + p.stderr)
    if p.returncode != 0:
        sys.exit(f"run with seed {seed} failed (exit {p.returncode}); see {log}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    seconds = a.seconds
    if seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]
    sets = []
    for s in range(a.sets):
        runs = []
        for i in range(a.runs):
            seed = a.first_seed + s * a.runs + i
            r = one(a.workload, seed, seconds)
            runs.append(r)
            print(f"set {s + 1} seed {seed}: correct={r['correct']} "
                  f"failed {r['failed']}/{r['attempted']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(r["metrics"].items())),
                  flush=True)
        sets.append(runs)
    print(f"\n{a.workload}: {a.runs} runs per set")
    for k in sorted(sets[0][0]["metrics"]):
        cells, meds = [], []
        for runs in sets:
            vals = [r["metrics"][k]["value"] for r in runs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4)
            meds.append(med)
            cells.append(f"median {med:.4g} iqr {((q[2] - q[0]) / med if med else 0):.3f}")
        drift = f"  set2/set1 {meds[1] / meds[0]:.3f}" if len(meds) > 1 and meds[0] else ""
        print(f"{k:28s} " + " | ".join(cells) + drift)
    shares = [sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs) for runs in sets]
    print("failed share per set: " + ", ".join(f"{x:.4f}" for x in shares))
    print("all correct: " + str(all(r["correct"] for runs in sets for r in runs)))


if __name__ == "__main__":
    main()
