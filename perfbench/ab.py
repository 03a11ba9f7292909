#!/usr/bin/env python3
"""Interleaved A/B of two checkouts with the same benchmark code.

    python3 perfbench/ab.py --parent ../parent --change . --workload analytics \\
        --seed 1009 --pairs 10

Runs this checkout's perfbench/run.py from the root of each side, pair by
pair, alternating which side runs first. Prints each side's median and
quartiles per end-to-end metric and the number of pairs the change won.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(root: str, args) -> dict:
    cmd = [sys.executable, RUN, "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=root, capture_output=True, text=True, check=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"{root}: {result['failed']} operations failed")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args()
    sides = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            sides[side].append(run(getattr(args, side), args))
        print(f"pair {i + 1}: " + json.dumps({s: sides[s][-1] for s in order}), flush=True)
    for metric in sides["parent"][0]:
        row = {}
        for side, runs in sides.items():
            v = [r[metric] for r in runs]
            q1, med, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0],) * 3
            row[side] = {"q1": q1, "median": med, "q3": q3}
        # every end-to-end metric is lower-is-better
        wins = sum(c[metric] < p[metric] for p, c in zip(sides["parent"], sides["change"]))
        print(f"{metric}: " + json.dumps(row) + f" change won {wins}/{args.pairs}")


if __name__ == "__main__":
    main()
