#!/usr/bin/env python3
"""Run the benchmark once per seed and report, for every metric, the median
and the quartile spread (Q3 - Q1) / median over the runs.

  python3 perfbench/steadiness.py --workload ocr_pages --seeds 1-10 \
      [--seconds 5] [--trace 0]

Run from the repository root. Each run is a fresh process, as when the
benchmark is driven run by run; per-run results stay in .perfbench/runs/.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median) as statistics.quantiles(n=4) gives
    the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, (q3 - q1) / q2 if q2 else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", default="5")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    if "-" in args.seeds:
        lo, hi = map(int, args.seeds.split("-"))
        seeds = list(range(lo, hi + 1))
    else:
        seeds = [int(s) for s in args.seeds.split(",")]
    values: dict[str, list[float]] = {}
    for seed in seeds:
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines else {}
        print(json.dumps({"seed": seed, "rc": p.returncode,
                          "wall_s": round(time.time() - t0, 1),
                          "correct": res.get("correct"),
                          **{k: v["value"] for k, v in
                             res.get("metrics", {}).items()}}), flush=True)
        for k, v in res.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    summary = {}
    for k, vs in values.items():
        if len(vs) >= 2:
            med, sp = spread(vs)
            summary[k] = {"median": med, "spread": round(sp, 4),
                          "n": len(vs)}
    print(json.dumps({"workload": args.workload, "summary": summary},
                     indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
