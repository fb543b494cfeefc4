#!/usr/bin/env python3
"""The benchmark: one workload, one fresh Spark session, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload <name> --seed <n> --list

Builds the program from source on first use (see build.py), generates
the workload's items from the seed (workloads.py), runs them in the
harness JVM (src/main/scala/perfbench), checks every item's output
against an independent computation (checks.py), and prints as its last
line `{"correct", "attempted", "failed", "metrics"}`: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
`--trace-out <file>` also keeps the traced run's spans and counters for
trace_table.py.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import workloads  # noqa: E402

JVM_TIMEOUT_S = 170
# The nearest-rank percentile reported as item_tail_s (README).
TAIL_PCT = 95


def cores() -> int:
    return max(1, min(4, os.cpu_count() or 1))


def run_jvm(spec: dict, seconds: int, trace: bool, timeout: int = JVM_TIMEOUT_S) -> tuple:
    work = build.WORK / "run"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    items_f, res_f = work / "items.json", work / "results.json"
    items_f.write_text(json.dumps(spec))
    cmd = build.java_cmd(["run", str(items_f), str(res_f), str(seconds),
                          "1" if trace else "0", str(cores())])
    launched = time.time()
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=build.ROOT, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            build.fail(f"harness exceeded {timeout} s, see {work / 'jvm.log'}")
    if rc != 0 or not res_f.exists():
        build.fail(f"harness failed (rc={rc}), see {work / 'jvm.log'}")
    return json.loads(res_f.read_text()), launched


def percentile(values: list, pct: int) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, -(-len(s) * pct // 100) - 1)]


def end_to_end(res: dict, launched: float) -> dict:
    passes = res["passes"]
    warm = passes[1:]
    lat = [it["total_s"] for p in warm for it in p["items"]]
    plan_nodes = sum(c.get("plan_nodes", 0) for c in res["checks"].values())
    m = {
        "setup_s": (res["first_item_us"] / 1e6 - launched, "s"),
        "cold_pass_s": (passes[0]["wall_s"], "s"),
        "warm_pass_s": (statistics.median(p["wall_s"] for p in warm), "s"),
        "item_p50_s": (statistics.median(lat), "s"),
        "item_tail_s": (percentile(lat, TAIL_PCT), "s"),
        "plan_nodes": (plan_nodes, "count"),
        "live_heap_mb": (res["live_heap_mb"], "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--list", action="store_true",
                    help="print the items the seed selects and exit")
    ap.add_argument("--trace-out", help="keep the traced run's record here")
    a = ap.parse_args()

    build.ensure_built()
    spec = workloads.items(a.workload, a.seed, build.catalog())
    if a.list:
        for it in spec["items"]:
            extra = {k: v for k, v in it.items()
                     if k in ("family", "k", "thresholds", "x_offset",
                              "known_fault", "substrate")}
            print(it["id"], json.dumps(extra))
        return 0

    import checks  # noqa: E402  (pulls in duckdb/pandas only for real runs)
    res, launched = run_jvm(spec, a.seconds, a.trace == 1)
    verdict = checks.check(spec, res["checks"])
    for item, (why, _) in sorted(verdict.items()):
        if why:
            print(f"perfbench: {item} FAILED: {why}", file=sys.stderr)
    errors = {it["id"] for p in res["passes"] for it in p["items"] if "error" in it}
    bad = {i for i, (why, _) in verdict.items() if why} | errors
    attempted = sum(len(p["items"]) for p in res["passes"])
    failed = sum(1 for p in res["passes"] for it in p["items"] if it["id"] in bad)
    # Correct: every item was checked, and every failure is one that the
    # item's known fault explains (counted in `failed` all the same).
    unexplained = {i for i, (why, known) in verdict.items() if why and not known} | errors
    correct = set(verdict) == {it["id"] for it in spec["items"]} and not unexplained

    if a.trace:
        import layers  # noqa: E402
        metrics = layers.per_layer(spec, res)
        if a.trace_out:
            with open(a.trace_out, "w") as f:
                json.dump({"spec": spec, "results": res}, f)
    else:
        metrics = end_to_end(res, launched)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
