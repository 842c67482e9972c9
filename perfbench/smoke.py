"""Benchmark smoke test: a short, small run of every workload, untraced and
traced, asserting that each prints exactly the metric names
``BENCHMARK.json`` declares and that no operation failed::

    python3 perfbench/smoke.py

Takes a few minutes (one Spark start per run). Exit status 1 on any
mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE = "0.05"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"] for m in spec["end_to_end"]},
        1: {m["name"] for m in spec["per_layer"]},
    }
    bad = 0
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = spec["command"] + [
                "--workload", w["name"], "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--scale", SCALE,
            ]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            problems = []
            if proc.returncode != 0 or not lines:
                problems.append(f"exit {proc.returncode}: {proc.stderr[-2000:]}")
            else:
                res = json.loads(lines[-1])
                got = set(res["metrics"])
                if got != want[trace]:
                    problems.append(f"missing {sorted(want[trace] - got)}, extra {sorted(got - want[trace])}")
                if res["failed"] or not res["correct"]:
                    problems.append(f"error_rate {res['failed']}/{res['attempted']}")
            bad += bool(problems)
            print(f"{'FAIL' if problems else 'ok  '} {w['name']} trace={trace} {'; '.join(problems)}", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
