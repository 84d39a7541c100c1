"""Run every workload and print its metrics by name and unit.

    python3 perfbench/report.py [--seed N] [--seconds S] [--trace 0|1]

Each workload runs in its own ``run.py`` process. The table shows every
metric of the result line plus ``wrong_results`` and ``error_rate``.
With ``--trace 1`` each workload also gets a traced run, and the
tracing overhead is printed as traced ``trace.run_s`` minus untraced
``run_s``.
"""
from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads as wl  # noqa: E402


def run(workload: str, seed: int, seconds: float, trace: int) -> dict | None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=os.path.dirname(HERE))
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        print(f"{workload} (trace {trace}): exit {proc.returncode}\n{proc.stderr[-2000:]}")
        return None
    res = json.loads(lines[-1])
    print(f"== {workload} (trace {trace}): correct={res['correct']} "
          f"attempted={res['attempted']} failed={res['failed']}")
    for line in lines[:-1]:
        if line.startswith(("# wrong_results", "# error_rate")):
            print(f"  {line[2:]}")
    for metric, m in res["metrics"].items():
        print(f"  {metric} = {m['value']:.4f} {m['unit']}")
    return res


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    status = 0
    for name in wl.WORKLOADS:
        plain = run(name, args.seed, args.seconds, 0)
        status |= plain is None or not plain["correct"]
        if not args.trace:
            continue
        traced = run(name, args.seed, args.seconds, 1)
        status |= traced is None or not traced["correct"]
        if plain and traced:
            over = traced["metrics"]["trace.run_s"]["value"] - plain["metrics"]["run_s"]["value"]
            print(f"  trace.overhead_s = {over:.4f} s")
    return status


if __name__ == "__main__":
    sys.exit(main())
