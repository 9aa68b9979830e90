"""Steadiness tool: repeat one workload over several seeds and print each
metric's median, quartiles and relative spread.

    python3 perfbench/steady.py --workload serve_scan --runs 10 [--first-seed 1]
                                [--seconds S] [--trace 0|1]

Run from the repository root. Seeds are ``first-seed .. first-seed+runs-1``.
The spread is (Q3 - Q1) / median with Python's
``statistics.quantiles(values, n=4)``; for end-to-end metrics it is
compared with the metric's bound in ``BENCHMARK.json`` (the benchmark
aims for a spread below a third of the bound). Each run's last output
line is also appended to ``perfbench/results/steady-<workload>.jsonl``.
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
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="run length (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    walls, bad = [], 0
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    log = os.path.join(HERE, "results", f"steady-{args.workload}.jsonl")
    for i in range(args.runs):
        seed = args.first_seed + i
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", f"{seconds:g}", "--trace", str(args.trace)]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            bad += 1
            continue
        res = json.loads(lines[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": walls[-1], **res}) + "\n")
        if not res["correct"]:
            bad += 1
        print(f"seed {seed}: wall {walls[-1]:.1f}s correct={res['correct']} "
              f"{res['failed']}/{res['attempted']} failed "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                         if k in bounds or args.trace == 0), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"\n{args.workload}: {args.runs} runs, wall median {statistics.median(walls):.1f}s "
          f"max {max(walls):.1f}s, {bad} incorrect or failed")
    print(f"{'metric':44s} {'median':>14s} {'q1':>14s} {'q3':>14s} {'spread':>8s} {'bound':>6s}")
    worst = 0.0
    for k, vals in values.items():
        if len(vals) < 2:
            continue
        med, q1, q3, sp = spread(vals)
        b = bounds.get(k)
        flag = ""
        if b is not None and k != "setup_s":
            worst = max(worst, sp / b)
            flag = " OK" if sp < b / 3 else (" within bound" if sp <= b else " TOO WIDE")
        print(f"{k:44s} {med:14.4f} {q1:14.4f} {q3:14.4f} {sp:8.4f} "
              f"{'' if b is None else f'{b:6.2f}'}{flag}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
