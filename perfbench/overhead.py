#!/usr/bin/env python3
"""Tracing overhead per end-to-end metric: run one workload untraced and
traced on the same seed and print traced - untraced for each metric.

    python3 perfbench/overhead.py --workload catalog_sync --seed 1 --seconds 8

The traced run reports its own end-to-end values as `traced.<name>`.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(args, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace),
           "--scale", args.scale]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args()
    plain, traced = run(args, 0), run(args, 1)
    print(f"{'metric':<14} {'untraced':>12} {'traced':>12} {'overhead':>12}  unit")
    for name, m in plain["metrics"].items():
        t = traced["metrics"][f"traced.{name}"]["value"]
        print(f"{name:<14} {m['value']:>12.4g} {t:>12.4g} {t - m['value']:>+12.4g}  {m['unit']}")
    return 0 if plain["correct"] and traced["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
