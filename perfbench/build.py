"""Builds the program and the harness from source, and the input tables.

Everything lands under `.bench_build/` in the checkout (and sbt's own
`target/` directories). A stamp over the sources decides whether a
build is current, so only the first run in a checkout pays for it.
"""
import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_build"
DATA = WORK / "data" / "sf0.1"
CATALOG = WORK / "catalog.json"
CLASSPATH = WORK / "classpath.txt"
STAMP = WORK / "build_stamp.txt"

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "4g"


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _sources() -> list:
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties",
             BENCH / "build.py", BENCH / "gen_data.py", BENCH / "pools.json"]
    for top in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    return files


def _stamp() -> str:
    h = hashlib.sha256()
    for p in _sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def java_cmd(main_args: list) -> list:
    opens = [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (["java", *opens, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
             f"-Dderby.system.home={WORK}",
             "-cp", CLASSPATH.read_text().strip(), "perfbench.Main", *main_args])


def _sbt_env() -> dict:
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_built() -> None:
    """Compiles, exports the classpath and the query catalog, writes data."""
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main").is_dir():
        fail("the program's sources are missing; run from a full checkout")
    stamp = _stamp()
    if STAMP.exists() and STAMP.read_text() == stamp and CLASSPATH.exists() \
            and CATALOG.exists() and (DATA / "lineitem.parquet").exists():
        return
    WORK.mkdir(parents=True, exist_ok=True)
    log = WORK / "build.log"
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=_sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    lines = log.read_text().splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if r.returncode != 0 or not cp:
        fail(f"build failed, see {log}")
    CLASSPATH.write_text(cp[-1])
    subprocess.run([sys.executable, str(BENCH / "gen_data.py"), str(DATA)],
                   check=True)
    r = subprocess.run(java_cmd(["catalog", str(CATALOG)]), cwd=ROOT,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    if r.returncode != 0:
        fail("could not export the query catalog")
    _prime()
    STAMP.write_text(stamp)


def _prime() -> None:
    """Runs every pooled query once, untimed, so that the disk fixtures the
    program caches across JVMs (graft.ops.FixtureCache, under target/)
    exist before the first measured run, as in any later one."""
    pools = json.loads((BENCH / "pools.json").read_text())
    ops = pools["ops_batch"]
    names = list(ops["fixed"]) + [q for fam in ops["strata"].values()
                                  for st in fam for q in st]
    work = WORK / "prime"
    work.mkdir(parents=True, exist_ok=True)
    spec = {"data": str(DATA), "work": str(work), "min_passes": 1,
            "items": [{"id": q} for q in names]}
    (work / "items.json").write_text(json.dumps(spec))
    with open(work / "jvm.log", "w") as log:
        r = subprocess.run(java_cmd(["run", str(work / "items.json"),
                                     str(work / "results.json"), "0", "0", "4"]),
                           cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        fail(f"priming run failed, see {work / 'jvm.log'}")


def catalog() -> dict:
    return json.loads(CATALOG.read_text())
