"""Per-layer metrics and self times from a traced run.

A traced run records one span per layer call on the harness thread
(pass, item, parse, compile, columngen, analyze, construct, action) and,
per item, the counters and intervals that Spark's listeners reported
(jobs and the analysis / optimization / planning phases of each executed
query). Here every interval is placed under the innermost span of its
item that contains it, and each layer's self time is its duration minus
the union of its children.

Per-layer metrics are means per warm pass (passes after the first),
except `ops.construct_jobs`, `codegen.compiles` and `codegen.compile_ms`
(cold pass: work a warm session absorbs through its caches) and the
codegen size maxima (whole run).
"""
import statistics
from collections import defaultdict

# span or interval name -> layer shown in the self-time table
LAYER_OF = {
    "pass": "harness", "item": "harness", "parse": "parser",
    "compile": "compiler", "columngen": "columngen", "analyze": "catalyst.analyze",
    "analysis": "catalyst.analyze", "optimization": "catalyst.optimize",
    "planning": "catalyst.plan", "construct": "ops.construct",
    "action": "exec.action", "job": "exec.jobs",
}
OPS_FAMILIES = ("ax", "dd", "tx", "sim", "mm", "sq", "st")
STREAM_KEYS = {"query_planning_s": "queryPlanning", "get_batch_s": "getBatch",
               "add_batch_s": "addBatch", "wal_commit_s": "walCommit",
               "commit_offsets_s": "commitOffsets", "trigger_s": "triggerExecution"}


def _union(ivs: list) -> int:
    total, end = 0, None
    for s, e in sorted(ivs):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def nodes(res: dict) -> list:
    """Spans plus listener intervals as dicts with id, parent, name, pass."""
    spans = [dict(s) for s in res.get("spans", [])]
    by_id = {s["id"]: s for s in spans}
    for s in spans:  # the pass a span belongs to, via its root
        r = s
        while r["parent"] in by_id:
            r = by_id[r["parent"]]
        s["root"] = r["id"]
    pass_of_root = {s["id"]: i for i, s in enumerate(
        sorted((s for s in spans if s["name"] == "pass"), key=lambda s: s["start_us"]))}
    for s in spans:
        s["pass"] = pass_of_root.get(s["root"], -1)
    by_item = defaultdict(list)
    for s in spans:
        if s["item"]:
            by_item[(s["pass"], s["item"])].append(s)
    next_id = max(by_id, default=0) + 1
    out = list(spans)
    for p, pas in enumerate(res["passes"]):
        for it in pas["items"]:
            cands = by_item.get((p, it["id"]), [])
            for name, s, e in it.get("counters", {}).get("intervals", []):
                inside = [c for c in cands if c["start_us"] <= s and e <= c["end_us"]]
                parent = min(inside, key=lambda c: c["end_us"] - c["start_us"],
                             default=None)
                out.append({"id": next_id, "parent": parent["id"] if parent else 0,
                            "name": name, "item": it["id"], "pass": p,
                            "start_us": s, "end_us": e})
                next_id += 1
    return out


def self_times(res: dict) -> dict:
    """(pass, layer) -> self seconds. Listener intervals that overlap an
    earlier sibling (concurrent jobs) count only their uncovered part, so
    the self times of a pass add up to its wall time."""
    ns = nodes(res)
    kids = defaultdict(list)
    for n in ns:
        kids[n["parent"]].append(n)
    parents = {n["parent"] for n in ns}
    for sibs in kids.values():
        covered = None
        for n in sorted(sibs, key=lambda n: n["start_us"]):
            if n["id"] not in parents and covered is not None:
                n["start_us"] = min(max(n["start_us"], covered), n["end_us"])
            covered = max(covered or 0, n["end_us"])
    out = defaultdict(float)
    for n in ns:
        dur = n["end_us"] - n["start_us"]
        self_us = max(0, dur - _union([(c["start_us"], c["end_us"]) for c in kids[n["id"]]]))
        out[(n["pass"], LAYER_OF.get(n["name"], n["name"]))] += self_us / 1e6
    return out


def _span_sums(res: dict) -> dict:
    """(pass, span name) -> total seconds; for analysis, only the intervals
    outside `analyze` spans (those are already in the span)."""
    ns = nodes(res)
    by_id = {n["id"]: n for n in ns}
    out = defaultdict(float)
    for n in ns:
        if n["name"] == "analysis" and by_id.get(n["parent"], {}).get("name") == "analyze":
            continue
        out[(n["pass"], n["name"])] += (n["end_us"] - n["start_us"]) / 1e6
    return out


def per_layer(spec: dict, res: dict) -> dict:
    passes = res["passes"]
    warm = range(1, len(passes))
    nw = max(1, len(warm))
    spans = _span_sums(res)
    checks = res["checks"]
    fam = {it["id"]: it.get("family", "") for it in spec["items"]}

    def span_s(name):
        return sum(spans[(p, name)] for p in warm) / nw

    def counter(key, passes_=warm):
        return sum(it.get("counters", {}).get(key, 0) for p in passes_
                   for it in passes[p]["items"]) / (nw if passes_ is warm else 1)

    def check_sum(key):
        return sum(c.get(key, 0) for c in checks.values())

    def stream_ms(key):
        return sum(it.get("counters", {}).get("stream_ms", {}).get(key, 0)
                   for p in warm for it in passes[p]["items"]) / nw / 1e3

    item_wall = sum(it["total_s"] for p in warm for it in passes[p]["items"]) / nw
    tree, dag = check_sum("tree_nodes"), check_sum("dag_nodes")
    stream_items = [it for p in warm for it in passes[p]["items"]
                    if it.get("counters", {}).get("stream_queries", 0)]
    outside = sum(it["construct_s"] - it["counters"].get("stream_ms", {})
                  .get("triggerExecution", 0) / 1e3 for it in stream_items) / nw
    m = {
        "trace.warm_pass_s": (statistics.median(passes[p]["wall_s"] for p in warm), "s"),
        "jvm.peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "parser.parse_s": (span_s("parse"), "s"),
        "parser.source_chars": (check_sum("source_chars"), "count"),
        "compiler.compile_s": (span_s("compile"), "s"),
        "compiler.expr_tree_nodes": (tree, "count"),
        "compiler.expr_dag_nodes": (dag, "count"),
        "compiler.sharing_ratio": (dag / tree if tree else 0.0, "ratio"),
        "columngen.build_s": (span_s("columngen"), "s"),
        "sqlgen.build_s": (check_sum("sqlgen_s"), "s"),
        "sqlgen.sql_chars": (check_sum("sql_chars"), "count"),
        "catalyst.analyze_s": (span_s("analyze") + span_s("analysis"), "s"),
        "catalyst.optimize_s": (span_s("optimization"), "s"),
        "catalyst.plan_s": (span_s("planning"), "s"),
        "codegen.compiles": (counter("codegen_compiles", passes_=[0]), "count"),
        "codegen.compile_ms": (counter("codegen_ms", passes_=[0]), "ms"),
        "codegen.max_source_bytes": (res.get("codegen_max_source_bytes", 0), "bytes"),
        "codegen.max_method_bytecode_bytes": (res.get("codegen_max_method_bytes", 0),
                                              "bytes"),
        "codegen.fallbacks": (counter("fallbacks"), "count"),
        "exec.action_s": (span_s("action"), "s"),
        "exec.jobs": (counter("jobs"), "count"),
        "exec.stages": (counter("stages"), "count"),
        "exec.tasks": (counter("tasks"), "count"),
        "exec.task_run_s": (counter("task_run_s"), "s"),
        "exec.task_cpu_s": (counter("task_cpu_s"), "s"),
        "exec.gc_s": (counter("gc_s"), "s"),
        "exec.shuffle_read_bytes": (counter("shuffle_read_bytes"), "bytes"),
        "exec.shuffle_write_bytes": (counter("shuffle_write_bytes"), "bytes"),
        "exec.spill_bytes": (counter("spill_bytes"), "bytes"),
        "exec.busy_ratio": (counter("task_run_s") / (item_wall * res["cores"])
                            if item_wall else 0.0, "ratio"),
        "ops.construct_s": (span_s("construct"), "s"),
        "ops.construct_jobs": (counter("construct_jobs", passes_=[0]), "count"),
    }
    for f in OPS_FAMILIES:
        m[f"ops.{f}_s"] = (sum(it["total_s"] for p in warm for it in passes[p]["items"]
                               if fam.get(it["id"]) == f) / nw, "s")
    m["stream.queries"] = (counter("stream_queries"), "count")
    m["stream.triggers"] = (counter("triggers"), "count")
    for name, key in STREAM_KEYS.items():
        m[f"stream.{name}"] = (stream_ms(key), "s")
    m["stream.outside_trigger_s"] = (outside, "s")
    m["stream.state_rows"] = (counter("state_rows"), "count")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
