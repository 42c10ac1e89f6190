#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the library and the Scala harness
from the checkout's sources on first use (perfbench/build.sbt), generates
the input tables once (datagen.py), runs one workload in a fresh JVM,
checks the SPARQL outputs against DuckDB over the same parquet files, and
prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end_to_end ones of BENCHMARK.json, with
--trace 1 the per_layer ones. Everything it writes goes under .bench_build/
in the checkout.
"""

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
WORKLOADS = ("sparql_lookup", "sparql_analytic", "corpus_curation", "graph_update")
# The inputs of each workload. A traced sparql_lookup run also runs one
# graph_update round, for the update and store layers.
DATASETS = {"sparql_lookup": ("small", "tiny"), "sparql_analytic": ("analytic",),
            "corpus_curation": ("corpus",), "graph_update": ("tiny",)}
# Per-layer metrics (by name prefix) of layers a workload does not run;
# its traced run reports them as 0. Any other metric it does not report
# is an error.
NOT_RUN = {
    "sparql_lookup": ("pipeline.", "similarity."),
    "sparql_analytic": ("pipeline.", "similarity.", "engine.", "graphstore."),
    "corpus_curation": ("engine.", "graphstore.", "tables."),
    "graph_update": ("pipeline.", "similarity."),
}
# Seconds a run may take in all; the first run in a checkout also builds
# and generates the inputs, and may take longer.
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
JAVA_OPTS = [
    "-Xmx3g", "-XX:+UseG1GC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print("error: " + msg, file=sys.stderr)
    sys.exit(2)


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout:.0f} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Build unless a complete build is there; return whether it built."""
    if os.path.isfile(CLASSPATH) and all(
            os.path.exists(p) for p in open(CLASSPATH).read().split(os.pathsep)):
        return False
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no library sources next to perfbench/ (build.sbt, src/main/scala/graft)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                         840, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed (exit {rc}); see .bench_build/build.log")
    return True


def canon_cell(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float)):
        return float(v)
    return str(v)  # Decimal, dates


def rows_match(got, want):
    """Order-insensitive row comparison; numbers within 1e-9 relative."""
    if len(got) != len(want):
        return False
    key = lambda r: [("" if c is None else f"{c:.6g}" if isinstance(c, float) else str(c))
                     for c in r]
    for a, b in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


def oracle(path):
    """Re-ask each kept SPARQL question in SQL with DuckDB; return
    (failed ops, messages)."""
    import duckdb
    failed, msgs, cons = 0, [], {}
    if not os.path.isfile(path):
        return 0, []
    for line in open(path):
        c = json.loads(line)
        con = cons.get(c["data"])
        if con is None:
            con = cons[c["data"]] = duckdb.connect()
            for f in sorted(os.listdir(c["data"])):
                if f.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                                f"read_parquet('{os.path.join(c['data'], f)}')")
        want = [[canon_cell(v) for v in r] for r in con.execute(c["sql"]).fetchall()]
        got = [[canon_cell(v) for v in r] for r in c["rows"]]
        if not rows_match(got, want):
            failed += c["ops"]
            msgs.append(f"{c['label']}: {len(got)} rows, DuckDB {len(want)}")
    for con in cons.values():
        con.close()
    return failed, msgs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    built = build()
    sys.path.insert(0, HERE)
    import datagen
    data_root = os.path.join(WORK, "data")
    generated = not all(datagen.exists(data_root, d) for d in DATASETS[a.workload])
    data = [datagen.ensure(data_root, d) for d in DATASETS[a.workload]][0]
    limit = FIRST_RUN_LIMIT_S if built or generated else RUN_LIMIT_S

    out = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cp = open(CLASSPATH).read().strip()
    cmd = ["java"] + JAVA_OPTS + ["-Djava.io.tmpdir=" + os.path.join(out, "tmp"),
                                  "-cp", cp, "perfbench.Main", a.workload, str(a.seed),
                                  str(a.seconds), str(a.trace), os.path.dirname(data), out]
    # Spark would put its scratch files in SPARK_LOCAL_DIRS over the
    # spark.local.dir inside the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    # the DuckDB checks after the JVM take a few seconds
    budget = limit - 10 - (time.time() - t_start)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        rc = run_bounded(cmd, budget, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT)
    with open(os.path.join(out, "jvm.log")) as log:
        for line in log:
            if line.startswith(("info:", "failure:")):
                print(line, end="")
    res_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.isfile(res_path):
        fail(f"benchmark JVM failed (exit {rc}); see {out}/jvm.log")
    res = json.load(open(res_path))

    o_failed, o_msgs = oracle(os.path.join(out, "oracle.jsonl"))
    for m in o_msgs:
        print("failure: DuckDB oracle: " + m)
    failed = res["failed"] + o_failed
    group = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in group:
        v = res["metrics"].get(m["name"])
        if v is None:
            if a.trace and m["name"].startswith(NOT_RUN[a.workload]):
                v = 0.0  # the layer does no work in this workload
            else:
                fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
