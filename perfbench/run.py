#!/usr/bin/env python3
"""Benchmark for the graft engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: registry_batch and stream_store (see
BENCHMARK.json for why each exists).

The first run in a checkout builds the engine and the benchmark program from source
with sbt (offline), into target/ and perfbench/target/. Each run starts
one JVM (perfbench.Main) with Spark at local[nproc], checks the outputs it
names (registry query results against DuckDB running the query's oracle
SQL over the same fixture), and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
per-layer metrics of a separately traced run. Why each operation failed
is printed on the lines before it and kept, with the full result and the
traced run's spans, under perfbench/.out/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, ".out")
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
RUN_LIMIT_S = 170  # a run must end within 180 s
WORKLOADS = ("registry_batch", "stream_store")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile engine + benchmark program with sbt unless the classpath is current."""
    stamp = os.path.join(BUILD, "classpath.txt")
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
               os.path.join(ROOT, "project", "build.properties"),
               os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")]
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest_mtime(sources):
        return open(stamp).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            stdin=subprocess.DEVNULL)
    if p.returncode != 0:
        sys.stderr.write(open(log_path).read()[-4000:])
        die("build failed", 1)
    cp = [ln for ln in p.stdout.splitlines() if not ln.startswith("[") and ".jar" in ln]
    if not cp:
        die("build printed no classpath", 1)
    with open(stamp, "w") as f:
        f.write(cp[-1].strip())
    return cp[-1].strip()


def oracle_checks(checks):
    """Compare each named Spark output with DuckDB running the query's
    oracle, hashed with the canonicalisation of tools/oracle_check.py.
    Returns [(query, executions, reason)] for every mismatch."""
    if not checks:
        return []
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from oracle_check import table_hash
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    bad = []
    for c in checks:
        name, execs = c["query"], c["executions"]
        try:
            files = sorted(
                os.path.join(c["dir"], f) for f in os.listdir(c["dir"]) if f.endswith(".parquet"))
            if not files:
                raise RuntimeError("no spark output")
            srel = con.execute(f"SELECT * FROM read_parquet({files!r})")
            scols = [d[0] for d in srel.description]
            srows = srel.fetchall()
            orel = con.execute(c["sql"])
            ocols = [d[0] for d in orel.description]
            orows = orel.fetchall()
            if sorted(scols) != sorted(ocols):
                bad.append((name, execs, f"columns {sorted(scols)} != oracle {sorted(ocols)}"))
            elif len(srows) != len(orows):
                bad.append((name, execs, f"{len(srows)} rows != oracle {len(orows)}"))
            elif table_hash(srows, scols) != table_hash(orows, ocols):
                bad.append((name, execs, f"value hash differs from oracle ({len(srows)} rows)"))
        except Exception as e:  # a check that cannot run is a failed check
            bad.append((name, execs, f"{type(e).__name__}: {e}"))
    return bad


def run_jvm(cp, args, work, deadline):
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dlog4j2.level=error"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", DATA, "--work", work]
    log_path = os.path.join(work, "jvm.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"run exceeded {RUN_LIMIT_S} s", 1)
        except BaseException:  # interrupted or terminated: take the JVM down too
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if p.returncode != 0:
        sys.stderr.write(open(log_path, errors="replace").read()[-6000:])
        die(f"benchmark JVM exited with {p.returncode}", 1)
    print(f"perfbench: JVM {time.time() - t0:.1f} s", file=sys.stderr)
    return json.load(open(os.path.join(work, "result.json")))


def main():
    # SIGTERM unwinds like Ctrl-C, so the JVM and work dir are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no graft sources next to perfbench/ (run from the root of a checkout)")
    for t in TABLES:
        if not os.path.isfile(os.path.join(DATA, f"{t}.parquet")):
            die(f"fixture table {t} missing under {DATA}")
    cp = build()
    start = time.time()
    deadline = start + RUN_LIMIT_S

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, args, work, deadline)
        bad = oracle_checks(res["oracle_checks"])
        os.makedirs(OUT, exist_ok=True)
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(OUT, f"{tag}-spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    errors = list(res["errors"]) + [
        {"op": q, "class": "OracleMismatch", "message": why} for q, _, why in bad]
    failed = res["failed"] + sum(n for _, n, _ in bad)
    attempted = res["attempted"]
    if attempted < 1:
        die("the run attempted no operation", 1)
    metrics = res["metrics"]
    if args.trace:
        metrics["trace.overhead_pct"] = {
            "value": 100.0 * metrics["trace.overhead_s"]["value"]
            / max(1e-9, metrics["trace.untraced_wall_s"]["value"]), "unit": "%"}
    declared = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))[
        "per_layer" if args.trace else "end_to_end"]
    printed = {}
    for m in declared:
        # a layer this workload does not touch reads 0
        printed[m["name"]] = metrics.get(m["name"], {"value": 0.0, "unit": m["unit"]})
    untouched = [m["name"] for m in declared if m["name"] not in metrics]
    undeclared = [k for k in metrics if k not in printed]
    if untouched:
        print(f"perfbench: {len(untouched)} metrics not touched by {args.workload} read 0",
              file=sys.stderr)
    if undeclared:
        print(f"perfbench: not in BENCHMARK.json, kept only in the run record: {undeclared}",
              file=sys.stderr)
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump(dict(res, errors=errors, failed=failed, metrics=metrics), f, indent=1)
    for e in errors:
        print(json.dumps({"error": e}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": printed}))


if __name__ == "__main__":
    main()
