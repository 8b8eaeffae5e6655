#!/usr/bin/env python3
"""Benchmark for the graft engine: workloads `suite`, `serve` and `ingest`.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

It builds the program and the harness from source with sbt (offline, once
per source state, into .bench_build/), makes the workload's inputs from the
seed, runs the harness in a fresh JVM, checks the outputs, prints the
workload's own metrics one per line, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end set, with --trace 1 its per_layer
set. `--workload all` runs the three workloads in turn.

See perfbench/README.md for what each workload and metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

import fixture

WORKLOADS = ["suite", "serve", "ingest"]
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, relative to ROOT, in a stable order."""
    roots = [("build.sbt",), ("project",), ("src", "main")]
    harness = os.path.relpath(os.path.join(HERE, "harness"), ROOT)
    roots += [(harness, "build.sbt"), (harness, "project", "build.properties"), (harness, "src")]
    out = []
    for parts in roots:
        p = os.path.join(ROOT, *parts)
        if os.path.isfile(p):
            out.append(os.path.join(*parts))
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in sorted(files)]
    return out


def build():
    """Compile the program and harness; return the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(WORK, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            saved = json.load(fh)
        if saved.get("sources") == digest:
            return saved["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        code = run_bounded(cmd, os.path.join(HERE, "harness"), env, out, BUILD_LIMIT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if code != 0:
        print("\n".join(lines[-30:]), file=sys.stderr)
        fail(f"build failed (exit {code}); log in {log}")
    cp = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if not cp:
        fail(f"build printed no classpath; log in {log}")
    with open(stamp, "w") as fh:
        json.dump({"sources": digest, "classpath": cp[-1]}, fh)
    return cp[-1]


def run_bounded(cmd, cwd, env, out, limit_s):
    """Run cmd in its own process group; kill the group after limit_s seconds."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {limit_s} s and was stopped")


def oracle_counts(fixture_dir, sqls):
    """Row count of each oracle SQL in DuckDB, cached per SQL text."""
    import duckdb
    path = os.path.join(WORK, "oracle-counts.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as fh:
            cache = json.load(fh)
    todo = {k: s for k, s in sqls.items() if hashlib.sha256(s.encode()).hexdigest() not in cache}
    if todo:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet')")
        for k, s in sorted(todo.items()):
            try:
                n = len(con.execute(s).fetchall())
            except Exception as e:  # an oracle that cannot run is reported, not fatal
                n = f"error: {e}"
            cache[hashlib.sha256(s.encode()).hexdigest()] = n
        con.close()
        with open(path, "w") as fh:
            json.dump(cache, fh)
    return {k: cache[hashlib.sha256(s.encode()).hexdigest()] for k, s in sqls.items()}


def check_suite(fixture_dir, res):
    """Compare each key's counts with DuckDB (oracle keys) or with its first
    recorded count on this fixture (no_oracle keys). Returns failed passes."""
    counts, sqls = res["counts"], res["oracle_sql"]
    expected = oracle_counts(fixture_dir, {k: s for k, s in sqls.items() if k in counts})
    seen_path = os.path.join(WORK, "no-oracle-counts.json")
    seen = {}
    if os.path.exists(seen_path):
        with open(seen_path) as fh:
            seen = json.load(fh)
    bad = 0
    for k, ns in sorted(counts.items()):
        want = expected.get(k, seen.setdefault(k, ns[0]))
        wrong = [n for n in ns if n != want]
        if wrong:
            kind = "oracle" if k in expected else "no_oracle"
            print(f"perfbench: {kind} check failed for {k}: got {wrong[0]}, expected {want}",
                  file=sys.stderr)
            bad += len(wrong)
    with open(seen_path, "w") as fh:
        json.dump(seen, fh)
    return bad


def run_workload(args, classpath, bench):
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    fixture_dir = ""
    if args.workload == "suite":
        fixture_dir = fixture.ensure(fixture.SEED, os.path.join(WORK, "fixture"))
    result = os.path.join(run_dir, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS] + [
        "-Xmx3g", f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--fixture", fixture_dir, "--work", run_dir, "--out", result]
    log = os.path.join(run_dir, "harness.log")
    with open(log, "w") as out:
        code = run_bounded(cmd, run_dir, dict(os.environ), out, RUN_LIMIT_S)
    if code != 0 or not os.path.exists(result):
        with open(log) as fh:
            print("".join(fh.readlines()[-30:]), file=sys.stderr)
        fail(f"harness exited with {code} and no result; log in {log}")
    with open(result) as fh:
        res = json.load(fh)
    attempted, failed = int(res["attempted"]), int(res["failed"])
    if args.workload == "suite":
        failed += check_suite(fixture_dir, res)
    checks_ok = all(c["failed"] == 0 for c in res["checks"].values())

    for kind, v in res["ops"].items():
        print(f"{args.workload}: ops {kind}: attempted {v['attempted']}, failed {v['failed']}")
    for name, m in res["report"].items():
        print(f"{args.workload}: {name} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    wanted = bench["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        fail(f"harness did not report {missing}")
    metrics = {m["name"]: res["metrics"][m["name"]] for m in wanted}
    if args.trace and args.workload == "suite":
        print(f"suite: construction share of the traced pass = "
              f"{metrics['entry.construct_share']['value']:.3f}, Spark jobs per pass = "
              f"{metrics['spark.jobs']['value']:.0f} (the ROADMAP probe at sf0.1: 0.43, 1130)")
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        span_file = os.path.join(run_dir, f"trace-{args.workload}.json")
        if os.path.exists(span_file):
            shutil.move(span_file, os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
        print(f"{args.workload}: tracing overhead = {metrics['trace.overhead_pct']['value']:.2f} %")
    shutil.rmtree(run_dir, ignore_errors=True)
    return {"correct": failed == 0 and checks_ok, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"{ROOT} is not a source checkout of the program (no build.sbt or src/main/scala)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    results = []
    for w in (WORKLOADS if args.workload == "all" else [args.workload]):
        args.workload = w
        results.append(run_workload(args, classpath, bench))
        print(json.dumps(results[-1]), flush=True)


if __name__ == "__main__":
    main()
