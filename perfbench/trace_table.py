#!/usr/bin/env python3
"""Turns a traced run into a per-layer table.

    python3 perfbench/run.py --workload W --seed N --trace 1 --trace-out t.json
    python3 perfbench/trace_table.py t.json [--untraced-warm-pass-s S]

Prints, per layer, its self time per warm pass and its share of the
traced warm pass (the base of every share), then the layer counters
with the ratios' bases, and, given the untraced run's warm_pass_s, the
tracing overhead.
"""
import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("trace")
    ap.add_argument("--untraced-warm-pass-s", type=float)
    a = ap.parse_args()
    with open(a.trace) as f:
        t = json.load(f)
    spec, res = t["spec"], t["results"]
    passes = res["passes"]
    warm = range(1, len(passes))
    nw = max(1, len(warm))
    st = layers.self_times(res)
    pass_s = sum(passes[p]["wall_s"] for p in warm) / nw
    by_layer = {}
    for (p, layer), s in st.items():
        if p in warm:
            by_layer[layer] = by_layer.get(layer, 0.0) + s / nw
    print(f"workload {spec['workload']}  seed {spec['seed']}  cores {res['cores']}  "
          f"heap {res['heap_mb']:.0f} MB  passes {len(passes)} (1 cold, {nw} warm)")
    print(f"\nself time per warm pass (base: mean traced warm pass {pass_s:.3f} s)")
    print(f"{'layer':<22}{'self s':>10}{'share':>9}")
    for layer, s in sorted(by_layer.items(), key=lambda kv: -kv[1]):
        print(f"{layer:<22}{s:>10.3f}{s / pass_s:>9.1%}")
    total = sum(by_layer.values())
    print(f"{'sum':<22}{total:>10.3f}{total / pass_s:>9.1%}")

    m = layers.per_layer(spec, res)
    v = {k: x["value"] for k, x in m.items()}
    print("\nper-layer metrics (per warm pass unless stated)")
    for k, x in m.items():
        print(f"  {k:<36}{x['value']:>16.4f} {x['unit']}")
    print("\nratios and their bases")
    print(f"  compiler.sharing_ratio = {v['compiler.expr_dag_nodes']:.0f} DAG nodes / "
          f"{v['compiler.expr_tree_nodes']:.0f} tree nodes")
    print(f"  exec.busy_ratio = {v['exec.task_run_s']:.3f} s task run / "
          f"({sum(it['total_s'] for p in warm for it in passes[p]['items']) / nw:.3f} s "
          f"item wall x {res['cores']} cores)")
    print(f"  exec.task_cpu_s / exec.task_run_s = {v['exec.task_cpu_s']:.3f} / "
          f"{v['exec.task_run_s']:.3f}")
    if a.untraced_warm_pass_s:
        traced = v["trace.warm_pass_s"]
        u = a.untraced_warm_pass_s
        print(f"\ntracing overhead: traced warm_pass_s {traced:.3f} s vs untraced "
              f"{u:.3f} s = {(traced - u) / u:+.1%} (base: untraced)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
