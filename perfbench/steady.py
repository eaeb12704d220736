#!/usr/bin/env python3
"""Steadiness check: run one workload repeatedly on this commit, each run
with another seed, and print every metric's median, quartiles and spread
(interquartile distance over the median) against the bounds in
BENCHMARK.json.

    python3 perfbench/steady.py --workload serve --runs 10 [--first-seed 1]

Exits 1 when a spread exceeds its metric's bound, or a run fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = bench["per_layer" if a.trace else "end_to_end"]
    values = {m["name"]: [] for m in metrics}
    ok = True
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.time()
        r = subprocess.run(["python3", os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                            "--trace", str(a.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t0
        lines = r.stdout.strip().splitlines()
        if not lines:
            print("seed %d: exit %d after %.1f s, no result" % (seed, r.returncode, wall))
            ok = False
            continue
        # a run with wrong answers still prints its metrics; they count
        res = json.loads(lines[-1])
        ok = ok and r.returncode == 0 and res["correct"]
        print("seed %d: exit %d after %.1f s, correct %s, %d/%d failed" %
              (seed, r.returncode, wall, res["correct"], res["failed"], res["attempted"]))
        for m in metrics:
            values[m["name"]].append(res["metrics"][m["name"]]["value"])
        print("  " + " ".join("%s=%.4g" % (m["name"], values[m["name"]][-1]) for m in metrics))
    print("%-34s %12s %12s %12s %8s %6s" % ("metric", "q1", "median", "q3", "spread", "bound"))
    for m in metrics:
        xs = values[m["name"]]
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        bound = m.get("bound")
        flag = ""
        if bound is not None and spread > bound:
            flag, ok = " OVER", False
        print("%-34s %12.4g %12.4g %12.4g %8.3f %6s%s" %
              (m["name"], q1, med, q3, spread, "-" if bound is None else bound, flag))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
