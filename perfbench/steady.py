#!/usr/bin/env python3
"""Steadiness check: run one workload N times and report each metric's
spread against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload catalog_interactive --runs 10
    python3 perfbench/steady.py --workload cva_annual_refresh --runs 3 \\
        --trace-overhead

Run from the repository root. Each run gets its own seed (``--seed0``,
``--seed0 + 1``, ...). For every end-to-end metric it prints the median,
the first and third quartiles (``statistics.quantiles(n=4)``) and the
spread (Q3 - Q1) / median next to the metric's bound. It records
``bench.box_calibration()`` before and after, so a slower or faster host
shows apart from a code change. ``--trace-overhead`` adds one traced run
per seed and prints traced minus untraced medians per end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
LINE = re.compile(r"^([A-Za-z0-9_.]+): ([-+0-9.eE]+) (\S+)$")


def run_once(workload: str, seed: int, seconds: int, trace: int):
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    result = json.loads(out[-1])
    printed = {m.group(1): float(m.group(2))
               for m in map(LINE.match, out[:-1]) if m}
    return result, printed, time.perf_counter() - t0


def box_calibration() -> float:
    sys.path.insert(0, str(ROOT))
    import bench

    return bench.box_calibration()


def main(argv=None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace-overhead", action="store_true")
    args = ap.parse_args(argv)

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    calib = [box_calibration()]
    values: dict[str, list[float]] = {k: [] for k in bounds}
    traced: dict[str, list[float]] = {k: [] for k in bounds}
    wrong = 0
    walls = []
    for i in range(args.runs):
        seed = args.seed0 + i
        result, _, wall = run_once(args.workload, seed, args.seconds, 0)
        walls.append(wall)
        wrong += not result["correct"]
        for k in bounds:
            values[k].append(result["metrics"][k]["value"])
        print(f"run {i + 1}/{args.runs} seed={seed} wall={wall:.1f}s "
              f"correct={result['correct']} " + " ".join(
                  f"{k}={values[k][-1]:.4g}" for k in bounds), flush=True)
        if args.trace_overhead:
            result, printed, _ = run_once(args.workload, seed, args.seconds,
                                          1)
            wrong += not result["correct"]
            for k in bounds:
                traced[k].append(printed[k])
    calib.append(box_calibration())

    print(f"\nworkload={args.workload} runs={args.runs} "
          f"box_calibration_s={calib[0]:.4f}->{calib[1]:.4f} "
          f"incorrect_runs={wrong} run_wall_s: median="
          f"{statistics.median(walls):.1f} max={max(walls):.1f}")
    print(f"{'metric':14s} {'median':>11s} {'q1':>11s} {'q3':>11s} "
          f"{'spread':>7s} {'bound':>6s}  verdict")
    steady = True
    for k, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        if k == "setup_s":
            verdict = "exempt (median drift only)"
        elif spread < bounds[k] / 3:
            verdict = "ok (< bound/3)"
        elif spread < bounds[k]:
            verdict = "within bound"
        else:
            verdict = "TOO NOISY"
            steady = False
        print(f"{k:14s} {med:11.5g} {q1:11.5g} {q3:11.5g} "
              f"{spread:7.3f} {bounds[k]:6.2f}  {verdict}")
    if args.trace_overhead:
        print("\ntracing overhead (traced median - untraced median):")
        for k in bounds:
            d = statistics.median(traced[k]) - statistics.median(values[k])
            print(f"  {k}: {d:+.5g} ({d / statistics.median(values[k]):+.1%})")
    return 0 if steady and not wrong else 1


if __name__ == "__main__":
    sys.exit(main())
