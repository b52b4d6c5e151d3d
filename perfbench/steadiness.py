"""Run the benchmark repeatedly and summarise how steady each metric is.

    python3 perfbench/steadiness.py --workload query_mix --seeds 1-10 --seconds 5

Run from the repository root. Each run is a separate ``run.py`` process with
its own seed, one after another. For every metric the summary gives the
median of the runs and their spread: the distance between the first and the
third quartile (``statistics.quantiles(values, n=4)``) as a share of the
median. It is printed as one JSON object, and with ``--out`` also written
to a file.
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
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seed_range, required=True, help="e.g. 1-10")
    p.add_argument("--seconds", default="5")
    p.add_argument("--out")
    args = p.parse_args()

    runs = []
    for seed in args.seeds:
        start = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=False,
        )
        wall = time.perf_counter() - start
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        result["seed"], result["wall_s"] = seed, wall
        runs.append(result)
        print(f"seed {seed}: {wall:.1f} s, correct={result['correct']}", file=sys.stderr)

    names = list(runs[0]["metrics"])
    summary = {
        "workload": args.workload,
        "seeds": args.seeds,
        "all_correct": all(r["correct"] for r in runs),
        "wall_s_max": max(r["wall_s"] for r in runs),
        "metrics": {},
    }
    for name in names + ["wall_s"]:
        values = [r["wall_s"] if name == "wall_s" else r["metrics"][name]["value"] for r in runs]
        summary["metrics"][name] = {
            "median": statistics.median(values),
            "spread": stats.spread(values),
            "values": values,
        }
    text = json.dumps(summary, indent=1)
    if args.out:
        with open(args.out, "w", encoding="utf-8") as fh:
            fh.write(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
