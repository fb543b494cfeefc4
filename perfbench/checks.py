"""Independent computations that every item's output is checked against.

- program items (compile_deep): CPython running the same source over
  every x, with the pf_ query's cast to a long applied for corpus
  programs (the reference's `map_rows` oracle), and for the doubling
  chain and the guards also their closed forms (2^k * x; the number of
  thresholds below x).
- query items (ops_batch): DuckDB running the query's hand-written
  `SparkEntry.oracleSql` on the same parquet, compared by the canonical
  form of tools/check_correctness.py.

An item marked `known_fault` is one whose failure a known fault of the
program explains. Its output is also compared with what that fault
predicts, so that a failure the fault does not explain still shows.
"""
import ast
import importlib.util
import math

import duckdb
import pandas as pd

from build import DATA, ROOT

_spec = importlib.util.spec_from_file_location(
    "check_correctness", ROOT / "tools" / "check_correctness.py")
check_correctness = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_correctness)

CORPUS_GLOBALS = {
    "call_target_identity": lambda v: v,
    "double": lambda v: v * 2,
    "clip": lambda v, lo, hi: max(lo, min(hi, v)),
}


class _TruncatingMod(ast.NodeTransformer):
    """Rewrites `a % b` to the remainder that truncates toward zero, which
    is what the compiled program computes (Spark's `%`)."""

    def visit_BinOp(self, node):
        self.generic_visit(node)
        if isinstance(node.op, ast.Mod):
            return ast.Call(ast.Name("_tmod", ast.Load()), [node.left, node.right], [])
        return node


# What the program computes under each known fault, as a source rewrite.
KNOWN_FAULTS = {"truncating_mod": _TruncatingMod}


def _python_fn(source: str, fault: str = ""):
    ns = dict(CORPUS_GLOBALS, _tmod=lambda a, b: int(math.fmod(a, b)))
    tree = ast.parse(source)
    if fault:
        tree = ast.fix_missing_locations(KNOWN_FAULTS[fault]().visit(tree))
    exec(compile(tree, "<corpus>", "exec"), ns)
    fns = [v for k, v in ns.items()
           if callable(v) and k not in CORPUS_GLOBALS and not k.startswith("__")]
    return fns[-1]


def _x_domain(offset: int) -> list:
    con = duckdb.connect()
    qs = con.execute("SELECT DISTINCT CAST(l_quantity AS BIGINT) FROM "
                     f"'{DATA}/lineitem.parquet' ORDER BY 1").fetchall()
    return [q - offset for (q,) in qs]


def _rows_ok(got: list, want: dict) -> str:
    got_map = {x: y for x, y in got}
    if len(got_map) != len(got):
        return "duplicate x in output"
    if set(got_map) != set(want):
        return f"x domain differs: {sorted(set(got_map) ^ set(want))[:5]}"
    bad = [(x, got_map[x], want[x]) for x in sorted(want) if got_map[x] != want[x]]
    return f"{len(bad)} x differ, first (x, got, want): {bad[:3]}" if bad else ""


def check(spec: dict, checks: dict) -> dict:
    """item id -> (what differed, or '' when correct; whether the item's
    known fault explains the difference)."""
    verdict = {}
    domains = {}
    for it in spec["items"]:
        if "source" not in it:
            continue
        rec = checks.get(it["id"], {})
        if "error" in rec or "rows" not in rec:
            verdict[it["id"]] = (rec.get("error", "no output"), False)
            continue
        off = it.get("x_offset", 0)
        xs = domains.setdefault(off, _x_domain(off))
        fn = _python_fn(it["source"])
        why = _rows_ok(rec["rows"], {x: int(fn(x)) for x in xs})
        if not why and it["family"] in ("chain", "guards"):
            k = it["k"]
            closed = {x: (2 ** k) * x if it["family"] == "chain"
                      else sum(c < x for c in it["thresholds"]) for x in xs}
            why = _rows_ok(rec["rows"], closed)
            why = f"closed form: {why}" if why else ""
        known = False
        if why and it.get("known_fault"):
            faulty = _python_fn(it["source"], it["known_fault"])
            known = not _rows_ok(rec["rows"], {x: int(faulty(x)) for x in xs})
            if known:
                why = f"known fault {it['known_fault']}: {why}"
        verdict[it["id"]] = (why, known)
    queries = [it for it in spec["items"] if "source" not in it]
    if not queries:
        return verdict

    con = duckdb.connect()
    for t in check_correctness.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    canon = check_correctness.canon
    for it in queries:
        rec = checks.get(it["id"], {})
        if "error" in rec or "parquet" not in rec:
            verdict[it["id"]] = (rec.get("error", "no output"), False)
            continue
        try:
            got = canon(pd.read_parquet(rec["parquet"]))
            want = canon(con.execute(it["oracle_sql"]).fetchdf())
        except Exception as e:  # an oracle or reader failure fails the item
            verdict[it["id"]] = (f"exception {e}", False)
            continue
        if list(got.columns) != list(want.columns):
            why = f"columns {list(got.columns)} vs {list(want.columns)}"
        elif len(got) != len(want):
            why = f"rows {len(got)} vs {len(want)}"
        elif not got.equals(want):
            why = f"{int((got != want).any(axis=1).sum())} rows differ"
        else:
            why = ""
        verdict[it["id"]] = (why, False)
    return verdict
