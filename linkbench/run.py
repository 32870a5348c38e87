#!/usr/bin/env python3
"""Link-graph benchmark: one run of one workload.

Usage (from the repository root):
    python3 linkbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source into .bench_build/ when the
sources changed (sbt, offline), then starts one pinned JVM that runs the
workload for --seconds, with its inputs made from --seed under a fresh
directory in .bench_runs/ that is deleted afterwards. graph_queries outputs
are checked here against the engine's oracle SQL in DuckDB. The last line of
stdout is one JSON object: correct, attempted, failed and the metrics that
BENCHMARK.json lists for the mode (end_to_end with --trace 0, per_layer with
--trace 1). Spans of a traced run are kept in .bench_build/traces/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE = os.path.join(ROOT, "src", "main", "scala")
# one JVM, heap pinned (-Xms = -Xmx): the timed process never resizes its heap
HEAP = "3g"
# Spark 4 on JDK 17 outside spark-submit needs these (as in the engine build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"linkbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not os.path.isdir(os.path.join(home, "jars")):
        fail(f"no jars directory under SPARK_HOME {home}")
    return home


def source_hash():
    h = hashlib.sha256()
    roots = [ENGINE, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(env, deadline):
    """Compile when the sources changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE, "graft")):
        fail(f"engine sources not found under {ENGINE}; run from the repository root")
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip(), False
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(env, SBT_OPTS=env["SBT_OPTS"] + f" -Djava.io.tmpdir={BUILD}/tmp")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            timeout=max(60, deadline - time.time()))
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (log: {log})")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip(), True


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    return str(v)


def signature(cols, rows):
    """Column-name-sorted multiset of normalized rows (as the oracle gate)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(tuple(norm(r[i]) for i in order) for r in rows)


def oracle_failures(outdir):
    """Compare every pass's query rows with the oracle SQL run in DuckDB."""
    import duckdb
    spec = json.load(open(os.path.join(outdir, "oracle.json")))
    con = duckdb.connect()
    for t in ("events", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{spec['tables']}/{t}.parquet/*.parquet')")
    expected = {}
    for q, sql in spec["sql"].items():
        rows = con.execute(sql).fetchall()
        expected[q] = signature([d[0] for d in con.description], rows)
    failures = []
    passes = sorted(f for f in os.listdir(outdir) if f.startswith("pass"))
    for p in passes:
        got = json.load(open(os.path.join(outdir, p)))
        for q, res in got.items():
            if "error" in res:
                continue  # already counted as a failed op by the harness
            rows = [[float(v) if v in ("NaN", "Infinity", "-Infinity") else v for v in r]
                    for r in res["rows"]]
            sc, sig = signature(res["cols"], rows)
            oc, osig = expected[q]
            if sc != oc:
                failures.append(f"{p} {q}: columns {sc} != oracle {oc}")
            elif sig != osig:
                failures.append(f"{p} {q}: {len(sig)} rows differ from the oracle's {len(osig)}")
    return failures


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")

    env = dict(os.environ, SPARK_HOME=spark_home())
    # never resolve over the network
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    classpath, built = build(env, t_start + 840)
    deadline = t_start + (880 if built else 170)

    run_dir = os.path.join(ROOT, ".bench_runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    result_file = os.path.join(run_dir, "result.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "linkbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--dir", run_dir, "--result", result_file,
              "--spans", os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")])
    try:
        log = os.path.join(run_dir, "jvm.log")
        with open(log, "w") as out:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=max(10, deadline - time.time()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail("the run did not finish in time")
        if code != 0 or not os.path.exists(result_file):
            sys.stderr.write(open(log).read()[-6000:])
            fail(f"the benchmark JVM exited with code {code}")
        res = json.load(open(result_file))
        failures = res["failures"]
        failed = res["failed"]
        if a.workload == "graph_queries":
            bad = oracle_failures(os.path.join(run_dir, "outputs"))
            failures += bad
            failed += len(bad)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for f in failures:
        print(f"linkbench: check failed: {f}", file=sys.stderr)
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in declared:
        got = res["metrics"].get(m["name"])
        if got is None:
            if not a.trace:
                fail(f"end-to-end metric {m['name']} was not measured")
            got = {"value": 0.0, "unit": m["unit"]}  # a layer this workload never calls
        if got["unit"] != m["unit"]:
            fail(f"{m['name']} measured in {got['unit']}, declared in {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    print(json.dumps({"correct": not failures and failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
