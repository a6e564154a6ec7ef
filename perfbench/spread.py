#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload elt_write --seeds 1-10 [--seconds 18]

Runs ``perfbench/run.py`` once per seed (from the repository root) and
prints, per metric, the median and the interquartile range as a share of
the median, next to the metric's bound from ``BENCHMARK.json``. A
benchmark is steady when every spread is below a third of its bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()[-1]
        res = json.loads(out)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.3f}" for k, v in res["metrics"].items()),
              flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, xs in values.items():
        q1, _, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        spread = (q3 - q1) / med
        flag = "ok" if spread < bounds[name] / 3 else "WIDE"
        print(f"{name:14s} median={med:10.3f} spread={spread:.3f} "
              f"bound={bounds[name]} {flag}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
