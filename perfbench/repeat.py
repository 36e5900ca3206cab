#!/usr/bin/env python3
"""Exact-repeat check of the benchmark's counters.

    python3 perfbench/repeat.py --workload lookup --seed 7 --seconds 8

Runs the traced benchmark twice on one seed and compares every
count-type metric, plus ``stored_bytes_per_input_byte``. A count that
differs between the two runs is printed as a finding; the exit code is
the number of findings.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402

COUNTS = [k for k, u in layers.UNITS.items() if u in ("count", "B")]


def _run(args) -> dict:
    cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", "1"]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout.splitlines()
    meta = json.loads(out[-2])["meta"]
    result = json.loads(out[-1])
    vals = {k: result["metrics"][k]["value"] for k in COUNTS}
    vals["stored_bytes_per_input_byte"] = meta["stored_bytes_per_input_byte"]
    return vals


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    args = ap.parse_args()
    a, b = _run(args), _run(args)
    findings = 0
    for k in a:
        same = a[k] == b[k]
        findings += not same
        print(f"{'same' if same else 'DIFFERS':8s} {k:36s} {a[k]!r:>22} {b[k]!r:>22}")
    print(f"{args.workload}: {findings} count(s) did not repeat")
    return findings


if __name__ == "__main__":
    sys.exit(main())
