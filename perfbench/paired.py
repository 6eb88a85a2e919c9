#!/usr/bin/env python3
"""Paired parent/change comparison on one workload.

    python3 perfbench/paired.py --parent ../parent --change . --workload cli_wide [--pairs 10]

Each side is the root of a checkout with its own perfbench/; both run for
the change's BENCHMARK.json run_seconds. Pair i runs both sides on seed i, parent first in even pairs and change first in odd ones, so
drift in outside load falls on both sides alike. For every end-to-end metric
it prints each side's median and quartiles, the change's median as a share
of the parent's, and how many pairs the change won. A gain is claimed only
when the change wins at least 9 of 10 pairs; a count that repeats exactly
needs no pairing.
"""

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from spread import quartiles, run_once  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args()
    if args.pairs < 10:
        sys.exit("need at least 10 pairs")
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    sides = {"parent": args.parent, "change": args.change}
    got = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            res = run_once(args.workload, i + 1, seconds, cwd=sides[side])
            if not res["correct"]:
                sys.exit(f"{side} run {i + 1} produced incorrect output")
            got[side].append({k: v["value"] for k, v in res["metrics"].items()})
        print(f"pair {i + 1}: " + "  ".join(
            f"{m['name']} {got['parent'][-1][m['name']]:.4g}->{got['change'][-1][m['name']]:.4g}"
            for m in bench["end_to_end"]), flush=True)
    print(f"\n{args.workload}, {args.pairs} pairs")
    print(f"{'metric':<16} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} {'ratio':>7} {'wins':>6}")
    for m in bench["end_to_end"]:
        name = m["name"]
        p = [r[name] for r in got["parent"]]
        c = [r[name] for r in got["change"]]
        better = (lambda a, b: a < b) if m["better"] == "lower" else (lambda a, b: a > b)
        wins = sum(1 for a, b in zip(c, p) if better(a, b))
        pq, cq = quartiles(p), quartiles(c)
        ratio = cq[1] / pq[1] if pq[1] else float("nan")
        print(f"{name:<16} {'/'.join(f'{x:.4g}' for x in pq):>30} {'/'.join(f'{x:.4g}' for x in cq):>30} "
              f"{ratio:>7.3f} {wins:>3}/{args.pairs}")


if __name__ == "__main__":
    main()
