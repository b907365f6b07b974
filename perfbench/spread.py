"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload full_build --seeds 1-10

Runs the benchmark once per seed (untraced, ``run_seconds`` from
BENCHMARK.json) and prints each run's wall seconds and metrics, then for
each end-to-end metric the median of the per-run values and the
interquartile distance as a share of that median, next to the metric's
bound.  A spread above a third of its bound is
flagged: the benchmark is not steady enough for that bound.  Stops with
exit code 1 if a run fails or leaves a process running.
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
sys.path.insert(0, HERE)
from procfs import tagged  # noqa: E402


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        lines = out.stdout.strip().splitlines()
        if out.returncode or not lines:
            print(f"seed {seed}: exit {out.returncode}", file=sys.stderr)
            return 1
        left = tagged()
        if left:
            print(f"seed {seed}: processes left running: {left}",
                  file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        wall = time.perf_counter() - t0
        print(f"seed {seed}: wall={wall:.1f}s failed={res['failed']} " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()
        ), flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        flag = "" if spread <= m["bound"] / 3 else "  <-- above bound/3"
        print(f"{m['name']:>16}: median {med:.4g} {m['unit']}, spread "
              f"{spread:.3f} (bound {m['bound']}){flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
