"""Steadiness tool: repeat benchmark runs and compare sets of them.

Run each workload once per seed and summarise every end-to-end metric as
its median, quartiles and spread (quartile distance over the median),
recording the 1/5/15-minute load averages before each run::

    python3 perfbench/steady.py run --workloads kt_ingest,ann_index \\
        --seeds 1-10 --out .perfbench_out/A.json

Compare two such sets against the bounds in ``BENCHMARK.json``: each set's
spread must stay within the bound (``setup_s`` excepted), and the second
median may be worse than the first by at most the bound::

    python3 perfbench/steady.py compare .perfbench_out/A.json .perfbench_out/B.json

Quartiles are ``statistics.quantiles(values, n=4)``. Exit status 1 means
a check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seed_list(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(spec: dict, workload: str, seed: int, seconds: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    load = os.getloadavg()
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return {"seed": seed, "load": list(load), "wall_s": wall, "result": json.loads(lines[-1])}


def summarise(spec: dict, runs: list[dict]) -> dict:
    out = {}
    for m in spec["end_to_end"]:
        values = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4)
        out[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}
    return out


def cmd_run(args) -> int:
    spec = load_spec()
    seconds = args.seconds or spec["run_seconds"]
    result: dict = {}
    for workload in args.workloads.split(","):
        runs = []
        for seed in seed_list(args.seeds):
            r = run_once(spec, workload, seed, seconds)
            res = r["result"]
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            load = "/".join(f"{x:.2f}" for x in r["load"])
            print(f"{workload} seed={seed} load={load} wall={r['wall_s']:.1f}s "
                  f"correct={res['correct']} failed={res['failed']}/{res['attempted']} {vals}", flush=True)
            runs.append(r)
        result[workload] = {"runs": runs, "summary": summarise(spec, runs)}
        print_summary(spec, workload, result[workload]["summary"])
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
    return 0 if all(r["result"]["correct"] for w in result.values() for r in w["runs"]) else 1


def print_summary(spec: dict, workload: str, summary: dict) -> None:
    for m in spec["end_to_end"]:
        s = summary[m["name"]]
        third = s["spread"] < m["bound"] / 3
        verdict = "steady" if third else ("within bound" if s["spread"] <= m["bound"] else "TOO WIDE")
        print(f"  {workload:<10} {m['name']:<12} median={s['median']:.5g} q1={s['q1']:.5g} "
              f"q3={s['q3']:.5g} spread={s['spread']:.3f} bound={m['bound']} {verdict}")


def cmd_compare(args) -> int:
    spec = load_spec()
    with open(args.first) as f:
        first = json.load(f)
    with open(args.second) as f:
        second = json.load(f)
    ok = True
    for workload in first:
        if workload not in second:
            continue
        for m in spec["end_to_end"]:
            a = first[workload]["summary"][m["name"]]
            b = second[workload]["summary"][m["name"]]
            sign = 1 if m["better"] == "lower" else -1
            worse = sign * (b["median"] - a["median"]) / a["median"]
            checks = [worse <= m["bound"]]
            if m["name"] != "setup_s":
                checks += [a["spread"] <= m["bound"], b["spread"] <= m["bound"]]
            good = all(checks)
            ok &= good
            print(f"{workload:<10} {m['name']:<12} {a['median']:.5g} -> {b['median']:.5g} "
                  f"worse by {worse:+.3f} (bound {m['bound']}), spreads {a['spread']:.3f}/{b['spread']:.3f} "
                  f"{'ok' if good else 'FAIL'}")
    return 0 if ok else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="run workloads once per seed and summarise")
    r.add_argument("--workloads", default="kt_ingest,ann_index")
    r.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,7")
    r.add_argument("--seconds", type=int, default=0, help="default: BENCHMARK.json run_seconds")
    r.add_argument("--out", help="write every run and the summary here as JSON")
    c = sub.add_parser("compare", help="compare two sets of runs against the bounds")
    c.add_argument("first")
    c.add_argument("second")
    args = p.parse_args(argv)
    return cmd_run(args) if args.cmd == "run" else cmd_compare(args)


if __name__ == "__main__":
    sys.exit(main())
