#!/usr/bin/env python3
"""Repeatability check: run every workload on several seeds, append each
run's result line to a JSON-lines file, and print, per workload and
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median
next to the metric's bound from BENCHMARK.json.

    python3 benchmark/validate.py --seeds 101-110 --out results.jsonl
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

from spans import quartile_spread  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    lo, hi = (int(x) for x in args.seeds.split("-"))
    names = [w["name"] for w in spec["workloads"]]
    runs: dict = {n: [] for n in names}
    for name in names:
        for seed in range(lo, hi + 1):
            cmd = [*spec["command"], "--workload", name, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                  text=True)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 else None
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"workload": name, "seed": seed,
                                     "rc": proc.returncode,
                                     "report": lines[:-1],
                                     "result": result}) + "\n")
            if result is None or not result["correct"]:
                print(f"{name} seed {seed}: rc {proc.returncode}, "
                      f"result {result}\n{proc.stderr[-2000:]}",
                      file=sys.stderr)
                continue
            runs[name].append(result)
    for name in names:
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs[name]]
            if len(vals) < 2:
                continue
            print(f"{name:<16} {m['name']:<20} median "
                  f"{statistics.median(vals):10.4g} {m['unit']:<4} spread "
                  f"{quartile_spread(vals):6.3f} (bound {m['bound']}, "
                  f"n={len(vals)})")


if __name__ == "__main__":
    main()
