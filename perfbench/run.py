#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the harness from source with sbt
(perfbench/build.sbt compiles src/main/scala together with the harness);
later runs reuse the build until a source file changes. Each run is one
JVM at local[<cores>]. The JVM runs the workload, checks its outputs and
writes its result. The last line of stdout is one JSON object with the
keys correct, attempted, failed and metrics. The exit code is 0 only
when every check passed. Traced runs (--trace 1) also write their spans
to .bench_build/traces/<workload>-<seed>.jsonl.

catalog_rel checks each query's result against a pinned digest. To make
the pins (after changing the catalog tables or the query list):

    python3 perfbench/run.py --workload catalog_rel --seed 0 --seconds 1 --pin

compares every result with DuckDB running the query's oracle SQL on the
same tables and, only if all match, writes
perfbench/src/main/resources/catalog_pins.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
# the workload JVM must finish within this, leaving room for the checks
JVM_LIMIT_S = 150
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
PINS = os.path.join(BENCH_DIR, "src", "main", "resources", "catalog_pins.json")
CATALOG_TABLES = ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem"]


_jvm = None


def _stop(signum, _frame):
    """Stop the workload JVM before exiting on SIGTERM or SIGINT."""
    if _jvm is not None and _jvm.poll() is None:
        _jvm.kill()
        _jvm.wait()
    sys.exit(128 + signum)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for top in (ENGINE_SRC, os.path.join(BENCH_DIR, "src"),
                os.path.join(BENCH_DIR, "build.sbt"),
                os.path.join(BENCH_DIR, "project", "build.properties")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for dirpath, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    return newest


def build():
    """Compile with sbt when a source is newer than the last build;
    return the runtime classpath."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}: run from a checkout of the repository")
    stamp = os.path.join(BUILD_DIR, "classpath.txt")
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest_source_mtime():
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=800)
        out.write(proc.stdout)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (log: {log})")
    lines = [l.strip() for l in proc.stdout.splitlines()
             if l.strip() and not l.startswith("[") and os.pathsep in l]
    if not lines:
        fail(f"build printed no classpath (log: {log})")
    with open(stamp, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def run_jvm(classpath, args, work, timeout):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out] + (["--pin", "1"] if args.pin else [])
    log = os.path.join(work, "jvm.log")
    global _jvm
    with open(log, "w") as lf:
        _jvm = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=lf,
                                stderr=subprocess.STDOUT)
        try:
            code = _jvm.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            _jvm.kill()
            _jvm.wait()
            code = None
    with open(log) as lf:
        for line in lf:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    if code != 0 or not os.path.exists(out):
        with open(log) as lf:
            tail = lf.read()[-6000:]
        sys.stderr.write(tail)
        fail("the workload JVM " + ("timed out" if code is None else f"exited with {code}"))
    with open(out) as f:
        return json.load(f)


def check_catalog(work):
    """Each query's Spark result equals DuckDB running the query's
    oracle SQL on the same parquet tables (columns sorted by name, rows
    sorted, exact values), with the comparison of tools/verify_local.py."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from verify_local import canon, values_equal
    out = os.path.join(work, "catalog_out")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in CATALOG_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{work}/tpch/{t}.parquet/*.parquet')")
    problems = []
    for name in sorted(oracle):
        if not oracle[name]:
            problems.append(f"{name}: no oracle SQL")
            continue
        if not os.path.isdir(os.path.join(out, name)):
            problems.append(f"{name}: no Spark result")
            continue
        expected = canon(con.sql(oracle[name]).df())
        actual = canon(con.sql(
            f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").df())
        if list(expected.columns) != list(actual.columns):
            problems.append(f"{name}: columns {list(actual.columns)} != oracle {list(expected.columns)}")
        elif len(expected) != len(actual):
            problems.append(f"{name}: {len(actual)} rows != oracle {len(expected)}")
        elif len(expected) == 0:
            problems.append(f"{name}: empty result")
        else:
            for c in expected.columns:
                bad = [i for i in range(len(expected))
                       if not values_equal(expected[c].iloc[i], actual[c].iloc[i])]
                if bad:
                    i = bad[0]
                    problems.append(f"{name}: row {i} column {c}: {actual[c].iloc[i]!r} "
                                    f"!= oracle {expected[c].iloc[i]!r}")
                    break
    return problems


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"], [w["name"] for w in spec["workloads"]]


def main():
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true",
                    help="catalog_rel: check against DuckDB and rewrite the pinned digests")
    args = ap.parse_args()
    if args.pin and args.workload != "catalog_rel":
        fail("--pin applies to catalog_rel only")
    declared, workloads = declared_metrics(args.trace)
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload}; expected one of {workloads}")

    classpath = build()
    work = os.path.join(BUILD_DIR, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(classpath, args, work, JVM_LIMIT_S)
        problems = list(res["problems"])
        if args.pin and not problems:
            problems += check_catalog(work)
            if not problems:
                shutil.copy(os.path.join(work, "catalog_out", "digests.json"), PINS)
                print(f"perfbench: pinned {PINS}", file=sys.stderr)
        names = [m["name"] for m in declared]
        if sorted(res["metrics"]) != sorted(names):
            problems.append(f"metrics {sorted(res['metrics'])} != declared {sorted(names)}")
        if args.trace:
            src = os.path.join(work, "trace", f"{args.workload}-{args.seed}.jsonl")
            dst = os.path.join(BUILD_DIR, "traces")
            os.makedirs(dst, exist_ok=True)
            shutil.copy(src, dst)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for p in problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    units = {m["name"]: m["unit"] for m in declared}
    metrics = {n: {"value": res["metrics"][n]["value"], "unit": units[n]}
               for n in names if n in res["metrics"]}
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if not problems else 1)


if __name__ == "__main__":
    main()
