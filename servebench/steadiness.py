#!/usr/bin/env python3
"""Steadiness report for the serving benchmark.

    python3 servebench/steadiness.py --workload serve_read read_wal_tail \
        --runs 10 --first-seed 1

Run from the root of a checkout. For each workload, runs the command in
BENCHMARK.json once per seed (first-seed, first-seed+1, ...) for
run_seconds, then prints for every metric its median, first and third
quartiles (Python's statistics.quantiles with n=4) and spread,
(Q3 - Q1) / median, against the metric's bound. Exits 1 when an end-to-end
metric spreads by a third of its bound or more, or when a run fails. Each
run's result line is kept in .bench_build/servebench/steadiness/<workload>.jsonl
and its whole output in <workload>-seed<n>.txt beside it.
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
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, nargs="+")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in
              bench["end_to_end"] + bench["per_layer"]}
    out_dir = os.path.join(ROOT, ".bench_build", "servebench", "steadiness")
    os.makedirs(out_dir, exist_ok=True)
    bad = [w for w in a.workload
           if not report(w, a, bench, bounds, out_dir)]
    sys.exit(1 if bad else 0)


def report(workload, a, bench, bounds, out_dir):
    """Runs one workload for every seed and prints its table. Returns
    whether every run succeeded and every spread is below a third of its
    bound."""
    results, failed_runs = [], 0
    with open(os.path.join(out_dir, f"{workload}.jsonl"), "a") as log:
        for seed in range(a.first_seed, a.first_seed + a.runs):
            cmd = bench["command"] + [
                "--workload", workload, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", a.trace]
            t0 = time.monotonic()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.monotonic() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                failed_runs += 1
                print(f"{workload} seed {seed}: run failed "
                      f"(exit {p.returncode})")
                sys.stdout.write(p.stdout[-2000:] + p.stderr[-2000:])
                continue
            res = json.loads(lines[-1])
            with open(os.path.join(out_dir, f"{workload}-seed{seed}.txt"),
                      "w") as f:
                f.write(p.stdout)
            log.write(json.dumps({"seed": seed, **res}) + "\n")
            results.append(res)
            print(f"{workload} seed {seed} ({wall:.0f} s): " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()))
            sys.stdout.flush()
    if len(results) < 2:
        print(f"{workload}: fewer than two successful runs")
        return False

    print(f"\n{workload}: {len(results)} runs")
    print(f"{'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>8s} {'bound':>6s} {'/bound':>7s}")
    unsteady = []
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / abs(med) if med else float("inf")
        bound = bounds.get(name)
        share = spread / bound if bound else None
        if share is not None and share >= 1 / 3:
            unsteady.append(name)
        print(f"{name:40s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.4f} "
              + (f"{bound:6.2f} {share:7.2f}" if bound
                 else f"{'-':>6s} {'-':>7s}"))
    if unsteady:
        print("spread at or above a third of the bound: " + ", ".join(unsteady))
    print()
    return not unsteady and not failed_runs


if __name__ == "__main__":
    main()
