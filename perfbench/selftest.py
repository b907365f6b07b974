"""Smoke test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

Runs every workload untraced and traced with ``--scale tiny``, and checks
that each run exits 0, leaves no process running and ends with a result
line whose metrics are exactly the ones BENCHMARK.json names, with no
failed op.  Then copies
BENCHMARK.json and the benchmark directory alone into a scratch directory
and checks that the benchmark refuses to run there (exit code not 0, no
result line).  Takes a few minutes; exits 1 on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from procfs import tagged  # noqa: E402


def _run(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--scale", "tiny"]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       timeout=300)
    if p.returncode:
        sys.stderr.write(p.stderr[-4000:])
    left = tagged()
    if left:
        print(f"processes left running: {left}", file=sys.stderr)
        return 1, []
    return p.returncode, p.stdout.strip().splitlines()


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"] for m in bench["end_to_end"]},
            1: {m["name"] for m in bench["per_layer"]}}
    for w in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            rc, lines = _run(ROOT, w, trace)
            res = json.loads(lines[-1]) if rc == 0 and lines else {}
            ok = (
                set(res) == {"correct", "attempted", "failed", "metrics"}
                and res["correct"] and res["failed"] == 0
                and res["attempted"] >= 1
                and set(res["metrics"]) == want[trace]
                and all(isinstance(m["value"], (int, float))
                        for m in res["metrics"].values())
            )
            print(f"{w} trace={trace}: {'ok' if ok else 'FAIL'}", flush=True)
            if not ok:
                print(lines[-2:] if lines else f"exit code {rc}")
                return 1

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        w = bench["workloads"][0]["name"]
        rc, lines = _run(bare, w, 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    refused = rc != 0 and not any(l.startswith('{"correct"') for l in lines)
    print(f"bare benchmark directory refused: {'ok' if refused else 'FAIL'}")
    return 0 if refused else 1


if __name__ == "__main__":
    sys.exit(main())
