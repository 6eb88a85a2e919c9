#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics on one workload.

    python3 perfbench/spread.py --workload serve_wide --seeds 1-10

Runs the benchmark once per seed, for BENCHMARK.json's run_seconds, from the
current directory (the root of a checkout) and prints, per metric, the
median and the spread: the distance between the first and third quartile
(statistics.quantiles, n=4) as a share of the median, next to the metric's
bound and a third of it.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload, seed, seconds, trace=0, cwd="."):
    """One benchmark run in checkout `cwd`; returns its result object (the
    last line of its standard output)."""
    r = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True, cwd=cwd)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"run failed (seed {seed}, exit {r.returncode}):\n{r.stdout[-2000:]}\n{r.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    return statistics.quantiles(values, n=4)


def spread(values):
    q1, med, q3 = quartiles(values)
    return med, (q3 - q1) / med if med else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    values = {}
    for seed in args.seeds:
        t0 = time.time()
        res = run_once(args.workload, seed, seconds)
        print(f"seed {seed}: correct={res['correct']} {time.time() - t0:.0f} s " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{'metric':<16} {'median':>12} {'spread':>8} {'bound':>6} {'bound/3':>8}")
    for m in bench["end_to_end"]:
        med, sp = spread(values[m["name"]])
        flag = "" if sp < m["bound"] / 3 else ("  above bound/3" if sp < m["bound"] else "  ABOVE BOUND")
        print(f"{m['name']:<16} {med:>12.5g} {sp:>8.4f} {m['bound']:>6} {m['bound'] / 3:>8.4f}{flag}")


if __name__ == "__main__":
    main()
