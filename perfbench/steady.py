#!/usr/bin/env python3
"""Steadiness check: runs one workload repeatedly, one seed per run.

    python3 perfbench/steady.py --workload W [--runs 10] [--first-seed 1]

For each metric it prints the median, the quartiles (Python's
statistics.quantiles, n=4) and the spread (q3 - q1) / median, against the
metric's bound in BENCHMARK.json, plus the share of failed operations.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, shares = {}, []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        cmd = [*bench["command"], "--workload", a.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.time()
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        if r.returncode != 0:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
            return 1
        out = json.loads(r.stdout.strip().splitlines()[-1])
        shares.append(out["failed"] / out["attempted"])
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: wall={wall:.1f}s correct={out['correct']} "
              f"attempted={out['attempted']} "
              f"failed={out['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
              flush=True)
    print(f"\n{'metric':<30}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}")
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else 0.0
        b = bounds.get(k)
        flag = "" if b is None else ("  ok" if spread <= b / 3 else
                                      "  WIDE" if spread <= b else "  OVER")
        print(f"{k:<30}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{spread:>9.1%}"
              f"{'' if b is None else f'{b:>7.2f}'}{flag}")
    print(f"\nfailed share per run: {sorted(set(shares))}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
