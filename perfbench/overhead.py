"""Tracing overhead: the traced run's end-to-end numbers against the
untraced run's, on the same workload and seeds.

    python3 perfbench/overhead.py --workload sync_small_commits \
        --seeds 1,2,3 --seconds 20

Prints, per end-to-end metric and wall-clock figure, the median over
seeds of each mode and their ratio (traced / untraced).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def end_to_end(workload: str, seed: int, seconds: str, trace: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", seconds, "--trace", str(trace)],
        check=True, capture_output=True, text=True, cwd=os.path.dirname(HERE),
    ).stdout.strip().splitlines()
    detail = json.loads(out[-2])
    return {**detail["end_to_end"], **{f"wall.{k}": v for k, v in detail["wall"].items()}}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", default="20")
    args = ap.parse_args()
    runs: dict[int, list[dict[str, float]]] = {0: [], 1: []}
    for seed in (int(s) for s in args.seeds.split(",")):
        for trace in (0, 1):
            runs[trace].append(end_to_end(args.workload, seed, args.seconds, trace))
    print(f"{'metric':20s} {'untraced':>12s} {'traced':>12s} {'ratio':>7s}")
    for k in runs[0][0]:
        plain = statistics.median(r[k] for r in runs[0])
        traced = statistics.median(r[k] for r in runs[1])
        ratio = traced / plain if plain else float("nan")
        print(f"{k:20s} {plain:12.4g} {traced:12.4g} {ratio:7.3f}")


if __name__ == "__main__":
    main()
