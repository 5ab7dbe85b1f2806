#!/usr/bin/env python3
"""Benchmark entry point: builds the program, runs one workload, checks
its outputs and prints the metrics.

    python3 perfbench/run.py --workload backfill|query_mix \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds the program
and the benchmark with sbt (offline) into `.bench_build/`; later runs
reuse the build while the sources are unchanged. Every run works under
`.bench_build/runs/` and removes its files when it ends, except the
traced report, which is kept in `.bench_build/reports/`.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. The exit code is 0 only
when every output check passed.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("backfill", "query_mix")
# The tables query_mix reads: the repository's seed-42 synthetic tables
# at scale factor 0.01 (TESTDATA.md), the set its DuckDB oracle check
# runs on, kept here byte for byte.
TABLES = os.path.join(HERE, "data", "sf0.01")
RUN_TIMEOUT_S = 170
JVM_OPTS = ["-Xss64m", "-Xmx3g", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
# Spark on JDK 17 needs these outside spark-submit (as in the root build).
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
              "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for dirpath, _, files in sorted(os.walk(os.path.join(root, top))):
            inputs += [os.path.relpath(os.path.join(dirpath, f), root) for f in sorted(files)]
    for rel in inputs:
        path = os.path.join(root, rel)
        if os.path.isfile(path):
            h.update(rel.encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, out):
    """Compiles with sbt and returns the runtime classpath."""
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    tmp = os.path.join(out, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Dsbt.server.autostart=false"
                       f" -Djava.io.tmpdir={tmp} -Xmx2g").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"]
    with open(os.path.join(out, "build.log"), "w") as log:
        p = subprocess.run(cmd, cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
                           stderr=log, text=True, timeout=700)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {os.path.join(out, 'build.log')}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def oracle_failures(root, out):
    """Compares each query's rows under `out` with its DuckDB oracle
    (`out/oracle_sql.json`) over TABLES, with the repository's own check
    (tools/check_oracle.py). Returns the checked queries and one message
    per failure."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import duckdb
    import pandas as pd
    import check_oracle
    path = os.path.join(out, "oracle_sql.json")
    if not os.path.exists(path):
        return [], ["no oracle SQL was written"]
    with open(path) as f:
        sql = json.load(f)
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{TABLES}/{t}.parquet'")
    bad = []
    for q in sorted(sql):
        files = sorted(glob.glob(os.path.join(out, q, "*.parquet")))
        if not files:
            bad.append(f"{q}: no output")
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        try:
            want = con.execute(sql[q]).df()
        except duckdb.Error as e:
            bad.append(f"{q}: oracle error {e}")
            continue
        bad += [f"{q}: {i}" for i in check_oracle.compare(q, got, want)]
    con.close()
    return sql, bad


def run_jvm(classpath, run_dir, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for o in ADD_OPENS for x in ("--add-opens", o)]
    cmd = (["java"] + JVM_OPTS + opens + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-cp", classpath, "perfbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(root, "tools", "check_oracle.py"))):
        fail("run from the root of a checkout: the program's sources (build.sbt, src/main/scala/graft, "
             "tools/check_oracle.py) are missing")
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    classpath = build(root, out)

    run_dir = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    try:
        result_file = os.path.join(run_dir, "result.json")
        report_file = os.path.join(run_dir, "report.txt")
        code = run_jvm(classpath, run_dir, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--tables", TABLES,
            "--out", result_file, "--report", report_file])
        with open(os.path.join(run_dir, "jvm.log")) as f:
            log = f.readlines()
        if code != 0 or not os.path.exists(result_file):
            sys.stderr.write("".join(log[-40:]))
            fail(f"benchmark JVM exited with {code}", code=3)
        sys.stderr.write("".join(l for l in log if l.startswith("perfbench:")))
        with open(result_file) as f:
            res = json.load(f)
        failures = list(res.get("failures", []))
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "query_mix":
            checked, bad = oracle_failures(root, os.path.join(work, "out"))
            attempted += len(checked)
            failed += len(bad)
            failures += bad
        if os.path.exists(report_file):
            os.makedirs(os.path.join(out, "reports"), exist_ok=True)
            kept = os.path.join(out, "reports", f"{a.workload}-seed{a.seed}.txt")
            shutil.copyfile(report_file, kept)
            with open(report_file) as f:
                print(f.read())
            print(f"report kept at {os.path.relpath(kept, root)}")
        if "tail_percentile" in res:
            print(f"tail = p{res['tail_percentile']:g} over {res['samples']} ops")
        for msg in failures:
            print(f"CHECK FAILED: {msg}")
        verdict = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                   "metrics": res["metrics"]}
        if a.trace == 0:
            verdict["metrics"]["ok_frac"]["value"] = 1.0 - failed / max(1, attempted)
        print(json.dumps(verdict))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
