"""The workloads: what each run measures, generated from `--seed`.

The seed fixes, in `compile_deep`, the guard thresholds, the corpus
program draw and its x-recentring constant, and, in `ops_batch`, the
query draw. The program receives only the generated items.

Draws are stratified: `pools.json` groups the candidates into strata of
near-equal warm cost (picked from the measurements in survey.json; README),
and a run takes one member of each stratum, so runs with different seeds
do comparable work. `pools.json` also names the items every run holds
whatever the seed: the `SubstrateCache`-backed query of `ops_batch`, and
the corpus program of `compile_deep` that a known fault makes fail, run
on a fixed x-recentring so that it fails in every run.
"""
import json
import random
import re

from build import BENCH, DATA, ROOT, WORK

WORKLOADS = ("compile_deep", "ops_batch")
# Passes every run makes at least (1 cold + the rest warm), whatever --seconds.
MIN_PASSES = {"compile_deep": 3, "ops_batch": 4}
DEEP_KS = (4, 7, 10)
POOLS = json.loads((BENCH / "pools.json").read_text())

REFERENCE_SOURCES = ROOT / "src/test/scala/graft/polarify/ReferenceSources.scala"
CORPUS = ROOT / "src/main/scala/graft/polarify/Corpus.scala"

# `call_expr_kwargs` is the one corpus case written in the DSL only; this
# is its Python form.
KWARGS_SOURCE = """
def call_expr_kwargs(x):
    k = x * 2
    s = clip(k, lo=-10 - x, hi=10 + x)
    return s
"""


def _strip_margin(s: str) -> str:
    return "\n".join(re.sub(r"^\s*\|", "", l) for l in s.split("\n"))


def corpus_sources() -> list:
    """(name, verbatim source) of every corpus program behind the pf_ queries."""
    ref = re.findall(r'"(\w+)" ->\s*"""(.*?)"""\.stripMargin',
                     REFERENCE_SOURCES.read_text(), re.S)
    own = re.findall(r'Case\("(pysource_\w+)",\s*Program\.fromPython\(\s*"""(.*?)"""',
                     CORPUS.read_text(), re.S)
    out = [(n, _strip_margin(s)) for n, s in ref + own]
    out.append(("call_expr_kwargs", KWARGS_SOURCE))
    return out


def chain_source(k: int) -> str:
    body = "".join("    y = y + y\n" for _ in range(k))
    return f"def chain(x):\n    y = x\n{body}    return y\n"


def guards_source(cs: list) -> str:
    body = "".join(f"    if x > {c}:\n        y = y + 1\n" for c in cs)
    return f"def guards(x):\n    y = 0\n{body}    return y\n"


def items(workload: str, seed: int, catalog: dict) -> dict:
    """The run specification handed to the harness."""
    rng = random.Random(f"{workload}:{seed}")
    spec = {"workload": workload, "seed": seed, "data": str(DATA),
            "work": str(WORK / "run"), "min_passes": MIN_PASSES[workload]}
    if workload == "compile_deep":
        # the shallow end: corpus programs in the pf_ query shape, x recentred
        progs = dict(corpus_sources())
        strata = POOLS[workload]["pf"]
        # `pysource_match` computes `x % 4` with the truncating remainder
        # where Python floors (CHANGES.md); recentred so that x < 0 on
        # about half its inputs, it fails in every run, whatever the seed.
        known = POOLS[workload]["pf_known_fault"]
        pooled = {n for st in strata for n in st} | set(known)
        if pooled != set(progs):
            raise SystemExit("perfbench: pools.json corpus programs differ from the "
                             f"corpus: {sorted(pooled ^ set(progs))}")
        offset = rng.randint(0, 50)
        its = [{"id": f"pf_{n}", "family": "corpus", "shape": "pf", "x_offset": offset,
                "source": progs[n]} for n in (rng.choice(st) for st in strata)]
        its += [{"id": f"pf_{n}", "family": "corpus", "shape": "pf", "x_offset": off,
                 "source": progs[n], "known_fault": "truncating_mod"}
                for n, off in known.items()]
        for k in DEEP_KS:
            its.append({"id": f"chain_k{k:02d}", "family": "chain", "k": k,
                        "source": chain_source(k)})
            cs = [rng.randint(1, 49) for _ in range(k)]
            its.append({"id": f"guards_k{k:02d}", "family": "guards", "k": k,
                        "thresholds": cs, "source": guards_source(cs)})
        spec["items"] = its
    elif workload == "ops_batch":
        pools = POOLS[workload]
        pooled = list(pools["fixed"]) + [q for strata in pools["strata"].values()
                                         for st in strata for q in st]
        missing = [q for q in pooled if q not in catalog["oracle_sql"]]
        if missing:
            raise SystemExit(f"perfbench: pool queries missing: {missing}")
        its = [{"id": q, "family": family, "substrate": True}
               for q, family in pools["fixed"].items()]
        for family, strata in pools["strata"].items():
            its += [{"id": rng.choice(st), "family": family} for st in strata]
        for it in its:
            it["oracle_sql"] = catalog["oracle_sql"][it["id"]]
        spec["items"] = its
    else:
        raise SystemExit(f"perfbench: unknown workload {workload!r}")
    return spec
