#!/usr/bin/env python3
"""Run-to-run spread: run one workload untraced on several seeds, one run
at a time, and print for each end-to-end metric its median and the
distance between its first and third quartile as a share of the median,
next to each run's host CPU steal ticks. The bound a metric can hold in
BENCHMARK.json is at least this spread.

    python3 perfbench/spread.py --workload search_warm --seeds 1-10 --seconds 10 \\
        --out .perfbench/spread-search_warm.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: float) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True).stdout
    record, result = (json.loads(line) for line in out.strip().splitlines()[-2:])
    return {"seed": seed, "correct": result["correct"], "steal_ticks": record["steal_ticks"],
            "wall_s": record["wall_s"], "cycles": record["cycles"],
            "calib_ms": record["calib_ms"], "inputs": record["inputs"],
            "metrics": {k: m["value"] for k, m in result["metrics"].items()}}


def spreads(runs: list[dict]) -> dict[str, dict[str, float]]:
    out = {}
    for name in sorted(runs[0]["metrics"]):
        values = [r["metrics"][name] for r in runs]
        q1, _, q3 = statistics.quantiles(values, n=4)
        med = statistics.median(values)
        out[name] = {"median": med, "spread": (q3 - q1) / med}
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    runs = []
    for seed in seeds(args.seeds):
        runs.append(run_once(args.workload, seed, args.seconds))
        r = runs[-1]
        print(f"seed {seed}: correct={r['correct']} wall {r['wall_s']:.1f} s "
              f"steal {r['steal_ticks']} cycles {r['cycles']} calib {r['calib_ms']:.3f} ms",
              flush=True)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    table = spreads(runs)
    for name, s in table.items():
        print(f"{name:28s} median {s['median']:12.4f}  spread {s['spread']:.3f}"
              f"  bound {bounds[name]}")
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump({"workload": args.workload, "seconds": args.seconds,
                   "runs": runs, "spreads": table}, f, indent=1, sort_keys=True)
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
