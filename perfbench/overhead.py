#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced and then traced on the same
seed, and print each end-to-end metric from both runs with their
difference. The traced run reports its end-to-end numbers in the record
line printed before its result.

    python3 perfbench/overhead.py --workload search_warm --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(args, trace: int) -> list[dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    return [json.loads(line) for line in out.strip().splitlines()[-2:]]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    args = p.parse_args()
    _, plain = run_once(args, 0)
    record, traced = run_once(args, 1)
    print(f"{'metric':28s} {'untraced':>12s} {'traced':>12s} {'overhead':>9s}")
    for name, m in sorted(plain["metrics"].items()):
        a, b = m["value"], record["end_to_end"][name]
        print(f"{name:28s} {a:12.4f} {b:12.4f} {(b - a) / a:+9.1%}")
    bk = traced["metrics"]["trace.bookkeeping_ms"]["value"]
    n = traced["metrics"]["trace.spans"]["value"]
    print(f"span bookkeeping: {bk:.1f} ms over {n:.0f} spans")
    return 0 if plain["correct"] and traced["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
