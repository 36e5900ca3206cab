#!/usr/bin/env python3
"""Spread of each end-to-end metric over a set of runs, against its bound.

    python3 perfbench/spread.py results.jsonl [more.jsonl ...]

Each file holds the last stdout line of several runs of one workload
(one JSON object a line, each run with its own seed). For every metric
it prints the median, and the distance between the first and third
quartile as a share of the median, beside the metric's bound from
BENCHMARK.json. A spread above a third of its bound is flagged.
"""

from __future__ import annotations

import json
import statistics
import sys


def main() -> int:
    with open("BENCHMARK.json") as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    worst = 0.0
    for path in sys.argv[1:]:
        with open(path) as f:
            runs = [json.loads(line) for line in f if line.strip()]
        bad = sum(1 for r in runs if not r["correct"] or r["failed"])
        print(f"{path}: {len(runs)} runs, {bad} with failures")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _q2, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            flag = "" if spread <= bound / 3 else ("  > bound/3" if spread <= bound else "  > BOUND")
            if name != "setup_s":
                worst = max(worst, spread / bound)
            print(f"  {name:30s} median {med:12.4f}  spread {spread:6.3f}  bound {bound:.2f}{flag}")
    print(f"worst spread/bound (setup_s excepted): {worst:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
