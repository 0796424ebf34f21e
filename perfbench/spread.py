"""Run-to-run spread of the end-to-end metrics across seeds.

    python3 perfbench/spread.py --workload bulk_graph --seeds 1 2 3 4 5

Runs ``perfbench/run.py`` once per seed, one after the other, and prints
for each metric its median and the distance between the first and third
quartile as a share of the median (``statistics.quantiles(values, n=4)``),
next to the metric's bound from ``BENCHMARK.json``.  ``--out`` appends the
raw results as JSON lines.
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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    values: dict[str, list[float]] = {}
    walls = []
    for seed in args.seeds:
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", "0",
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        walls.append(time.perf_counter() - t0)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        print(f"seed {seed}: wall {walls[-1]:.1f} s, correct {result['correct']}, "
              f"attempted {result['attempted']}, failed {result['failed']}", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"workload": args.workload, "seed": seed,
                                     "wall_s": walls[-1], "lines": lines}) + "\n")
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for name, xs in values.items():
        med = statistics.median(xs)
        spread = float("nan")
        if len(xs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
        print(f"{name:>14}: median {med:.4g}  iqr/median {spread:.3f}  bound {bounds.get(name)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
