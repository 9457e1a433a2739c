#!/usr/bin/env python3
"""Benchmark of the graft program: one workload, one run.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the harness (perfbench/build.sbt compiles the program's sources with
the harness) when the sources changed since the last build, runs one JVM
for the run, checks the outputs, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). Exits 1 when an output is wrong, 2 when the checkout
holds no program to build. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / "target"
STAMP = BUILD / "perfbench.stamp"
WORKLOADS = ("etl_reports", "corpus_dedup", "index_serve")
DEADLINE_S = 170  # a run must end within 180 s once built

# Spark 4 on JDK 17 outside spark-submit (the same list as the root build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [ROOT / "src" / "main", HERE / "src"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def source_hash(files):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft" / "Main.scala").is_file():
        fail("no program sources under src/main/scala: run from a checkout root")
    digest = source_hash(source_files())
    if STAMP.is_file():
        stamp = json.loads(STAMP.read_text())
        if stamp.get("sources") == digest:
            return stamp["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    BUILD.mkdir(parents=True, exist_ok=True)
    log = BUILD / "build.log"
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not (Path(env.get("SPARK_HOME", "")) / "jars").is_dir():
        fail("SPARK_HOME must name a Spark install with a jars/ directory")
    with open(log, "w") as out:
        rc = run_group(["sbt", "-batch", "-Dsbt.server.forcestart=false",
                        "compile", "export Runtime/fullClasspath"],
                       timeout=600, cwd=HERE, env=env, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = log.read_text(errors="replace").splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}", 1)
    cp = next((l.strip() for l in reversed(lines)
               if "scala-2.13" in l and os.pathsep in l), None)
    if cp is None:
        fail(f"build printed no classpath; log in {log}", 1)
    STAMP.write_text(json.dumps({"sources": digest, "classpath": cp}))
    return cp


# ---------------------------------------------------------------- checks

# The CSV inputs the run loaded into Derby, as views named like the
# parquet tables the program's DuckDB oracles read.
CSV_COLUMNS = {
    "customer": {"c_custkey": "BIGINT", "c_name": "VARCHAR"},
    "orders": {"o_orderkey": "BIGINT", "o_custkey": "BIGINT",
               "o_totalprice": "DOUBLE"},
    "lineitem": {"l_orderkey": "BIGINT", "l_linenumber": "INTEGER",
                 "l_quantity": "DOUBLE"},
}


def check_etl(o):
    import duckdb
    con = duckdb.connect()
    for t, cols in CSV_COLUMNS.items():
        path = Path(o["inputs"]) / f"{t}.csv"
        spec = ", ".join(f"'{c}': '{ty}'" for c, ty in cols.items())
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_csv('{path}', "
                    f"header=false, columns={{{spec}}})")
    problems = []
    for name, r in sorted(o["reports"].items()):
        q = con.sql(r["sql"])
        cols = [d[0] for d in q.description]
        want = q.fetchall()
        lines = Path(r["sink"]).read_text().splitlines()
        if lines[0].split("\t") != cols:
            problems.append(f"{name}: sink columns {lines[0].split()} != {cols}")
            continue
        types = [type(v) for v in want[0]] if want else []
        got = [tuple(ty(v) for ty, v in zip(types, line.split("\t")))
               for line in lines[1:]]
        if sorted(got) != sorted(want):
            bad = sorted(set(got) ^ set(want))[:3]
            problems.append(f"{name}: sink differs from the oracle, {len(got)} "
                            f"vs {len(want)} rows, e.g. {bad}")
        wrong = [n for n in r["counts"] if n != len(want)]
        if wrong:
            problems.append(f"{name}: {len(wrong)} jobs left {wrong[:3]} rows, "
                            f"not {len(want)}")
    return problems


def check_digests(o):
    rec = json.loads((HERE / "digests.json").read_text())
    if rec["n_docs"] != o["n_docs"]:
        return [f"digests.json is for {rec['n_docs']} documents, "
                f"the run used {o['n_docs']}"]
    return [f"{q}: digest {o['digests'].get(q)} != recorded {d}"
            for q, d in rec["digests"].items() if o["digests"].get(q) != d]


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail("no BENCHMARK.json at the checkout root")
    spec = json.loads(spec_path.read_text())

    cp = build()
    started = time.monotonic()
    work = HERE / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # the default tiered JIT, as under spark-submit; no perf-data file in
    # the system's temp directory
    java = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dderby.system.home={work}"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "graft.perfbench.Harness",
             "--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--work", str(work)]
    with open(work / "jvm.out", "w") as out, open(work / "jvm.err", "w") as err:
        rc = run_group(java, timeout=DEADLINE_S - 15, cwd=ROOT, stdout=out,
                       stderr=err, stdin=subprocess.DEVNULL)
    result_path = work / "result.json"
    if rc != 0 or not result_path.is_file():
        tail = (work / "jvm.err").read_text(errors="replace").splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail("the run timed out" if rc is None else f"the run failed (exit {rc})", 1)
    r = json.loads(result_path.read_text())

    problems = list(r["problems"])
    o = r.get("oracle", {})
    if o.get("kind") == "etl":
        problems += check_etl(o)
    elif o.get("kind") == "digests":
        problems += check_digests(o)
    elif o.get("kind") != "fresh_index":
        problems.append("the run reported no output check")

    m = r["metrics"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [x["name"] for x in wanted if x["name"] not in m]
    if missing:
        fail(f"the run did not measure {missing}", 1)
    print(f"[perfbench] {a.workload} seed={a.seed} trace={a.trace} "
          f"samples={json.dumps(r['samples'])} "
          f"calibration={json.dumps(r.get('calibration'))} "
          f"phases_s={json.dumps(r['phases_s'])} "
          f"wall_s={time.monotonic() - started:.1f}")
    shown = {x["name"] for x in wanted}
    extra = {k: v for k, v in m.items() if k not in shown}
    if extra:
        print(f"[perfbench] other metrics: {json.dumps(extra)}")
    for p in problems:
        print(f"[perfbench] INCORRECT: {p}")
    correct = not problems and r["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {x["name"]: {"value": m[x["name"]], "unit": x["unit"]}
                    for x in wanted},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
