#!/usr/bin/env python3
"""Steadiness report: run one workload with several seeds, then print each
metric's median and its quartile spread (Q3 - Q1 as a share of the median,
``statistics.quantiles(values, n=4)``), next to the bound BENCHMARK.json
gives it.  A spread should stay below a third of its bound.

    python3 perfbench/steadiness.py --workload operators --seeds 1-5 \\
        --out perfbench/.work/steady-operators.json

Run from the checkout root.  Runs are sequential, so figures are not
disturbed by each other.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.perf_counter() - t0
    res["log"] = [ln for ln in proc.stderr.splitlines() if ln.startswith("[perfbench]")]
    return res


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / abs(med) if med else float("inf")


def report(runs: list[dict], bench: dict) -> dict:
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    out = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med, spr = spread(vals)
        out[name] = {"median": med, "spread": spr, "bound": bounds.get(name),
                     "values": vals}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", type=seeds_arg)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    runs = []
    for seed in args.seeds:
        r = one_run(args.workload, seed, bench["run_seconds"])
        if not r["correct"] or r["failed"]:
            print(f"seed {seed}: incorrect result {r}", file=sys.stderr)
        runs.append(r)
        print(f"seed {seed} ({r['wall_s']:.0f}s): " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    rep = report(runs, bench)
    print(f"\n{args.workload}, {len(runs)} seeds: metric, median, spread, bound")
    for name, r in rep.items():
        flag = ""
        if r["bound"] is not None:
            flag = "ok" if r["spread"] < r["bound"] / 3 else "WIDE"
        print(f"  {name:28s} {r['median']:14.6g} {r['spread']:8.4f} "
              f"{r['bound'] if r['bound'] is not None else '-':>6} {flag}")
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "seeds": args.seeds,
                       "metrics": rep, "runs": runs}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
