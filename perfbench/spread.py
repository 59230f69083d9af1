"""Run one workload over several seeds and print each end-to-end metric's
median and spread (interquartile range as a share of the median), the
figures a benchmark's bounds are judged against.

    python3 perfbench/spread.py --workload curate_web --seeds 1-10 --seconds 8
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


def seed_list(text: str) -> list[int]:
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in text.split(",")]


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    runs = []
    for seed in seed_list(args.seeds):
        t = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900)
        wall = time.time() - t
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(result)
        print(json.dumps({"seed": seed, "run_s": round(wall, 1), "correct": result["correct"],
                          "attempted": result["attempted"],
                          **{k: v["value"] for k, v in result["metrics"].items()
                             if args.trace == "0"}}), flush=True)
    if args.trace == "0" and len(runs) >= 2:
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            print(f"{name:32s} median {statistics.median(vals):14.6g}"
                  f"  spread {spread(vals):.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
