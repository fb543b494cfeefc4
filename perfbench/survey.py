#!/usr/bin/env python3
"""Measures candidate items, for choosing the strata in pools.json.

    python3 perfbench/survey.py --families ax,tx --out survey-ax-tx.json
    python3 perfbench/survey.py --corpus --x-offset 37 --out survey-corpus.json

Runs every query of the named families that has a DuckDB oracle (or, with
`--corpus`, every corpus program in the pf_ shape, x recentred by
`--x-offset`), all in one fresh session, for two passes in the harness:
the first pass is the item's cold time in that session, the second its
warm time. Then checks each item as a run does and writes, per item id,
`cold_s`, `warm_s`, `plan_nodes` and `correct`. survey.json holds the
output of three such sessions on four cores (README).
"""
import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--families", default="", help="comma-separated query prefixes")
    ap.add_argument("--corpus", action="store_true", help="survey the corpus programs")
    ap.add_argument("--x-offset", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    build.ensure_built()
    cat = build.catalog()
    if a.corpus:
        items = [{"id": f"pf_{n}", "family": "corpus", "shape": "pf",
                  "x_offset": a.x_offset,
                  "source": src} for n, src in workloads.corpus_sources()]
    else:
        fams = set(a.families.split(","))
        items = [{"id": q, "family": q.split("_")[0], "oracle_sql": cat["oracle_sql"][q]}
                 for q in cat["queries"]
                 if q.split("_")[0] in fams and q in cat["oracle_sql"]]
    if not items:
        build.fail("nothing to survey")
    spec = {"workload": "survey", "seed": 0, "data": str(build.DATA),
            "work": str(build.WORK / "run"), "min_passes": 2, "items": items}
    # one pass over a whole family takes minutes, not one run's seconds
    res, _ = run.run_jvm(spec, 0, False, timeout=3600)

    import checks  # noqa: E402
    verdict = checks.check(spec, res["checks"])
    cold, warm = ({it["id"]: it for it in p["items"]} for p in res["passes"][:2])
    table = {it["id"]: {"cold_s": cold[it["id"]]["total_s"],
                        "warm_s": warm[it["id"]]["total_s"],
                        "plan_nodes": res["checks"][it["id"]].get("plan_nodes", 0),
                        "correct": not verdict[it["id"]][0]
                        and "error" not in cold[it["id"]]}
             for it in items}
    with open(a.out, "w") as f:
        json.dump(table, f, indent=0, sort_keys=True)
    print(f"{len(table)} items, {sum(not v['correct'] for v in table.values())} incorrect")
    return 0


if __name__ == "__main__":
    sys.exit(main())
