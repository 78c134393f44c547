#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload extract_write --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the engine and the benchmark from
source with sbt (once per source state, under .bench_build/), runs one
workload in a single JVM with at most nproc task threads, and prints every
metric as "name value unit", then, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics BENCHMARK.json lists; with --trace 1 they are
its per-layer metrics, and the run's spans are written next to its
artifact under .bench_build/runs/.

query_suite runs SparkEntry's queries over seeded tables that tables.py
writes under .bench_build/; every query result is compared with
SparkEntry.oracleSqlFor run in DuckDB.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb

import tables

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# Input turns per workload (query_suite reads tables, not turns).
TURNS = {"extract_write": 80000, "query_suite": 0}
# A run ends within this many seconds of its build being ready.
DEADLINE_S = 175

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep)
            for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group. The group is killed, and waited
    for, on timeout and when this script is terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(*_):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()

    def on_signal(signum, _):
        stop()
        fail(f"terminated by signal {signum}", 128 + signum)

    old = {s: signal.signal(s, on_signal) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop()
        fail(f"timed out after {timeout:.0f} s: {' '.join(cmd[:3])}")
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return p.returncode


def classpath():
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.autostart=false", "compile",
                          "export Runtime/fullClasspath"],
                         850, cwd=HERE, env=env, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {code}), log in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def heap():
    """Half of MemTotal in GiB, clamped to 2..8 (as the tier-1 tests)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def oracle_failures(tables_dir, out_dir):
    """Query results that differ from their DuckDB oracle, compared as
    tools/compare_oracle.py compares them."""
    con = duckdb.connect()
    con.sql("SET enable_progress_bar = false")
    for t in tables.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for name in sorted(os.listdir(out_dir)):
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir):
            continue
        if not glob.glob(f"{qdir}/*.parquet"):
            bad.append(f"{name}: no output")
            continue
        got = con.sql(f"SELECT * FROM '{qdir}/*.parquet'").df()
        if name not in oracle:
            # a query with no SQL oracle is checked for a non-empty result
            if got.empty:
                bad.append(f"{name}: empty result")
            continue
        exp = con.sql(oracle[name]).df()
        gc, ec = sorted(got.columns), sorted(exp.columns)
        if gc != ec:
            bad.append(f"{name}: schema {gc} != {ec}")
            continue
        g = got[gc].sort_values(gc).reset_index(drop=True).astype(str).values.tolist()
        e = exp[ec].sort_values(ec).reset_index(drop=True).astype(str).values.tolist()
        if g != e:
            bad.append(f"{name}: {len(g)} rows differ from the oracle's {len(e)}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.workload not in TURNS:
        fail(f"unknown workload {a.workload}; one of {', '.join(sorted(TURNS))}", 2)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"{ROOT} is not a graft checkout (no build.sbt and src/main/scala)", 2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]

    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    cp = classpath()
    # the deadline counts from here: a build may take longer
    start = time.monotonic()
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the query layer's tables: read by query_suite, and by every traced
    # run, which measures all layers
    tables_dir = os.path.join(work, "tables")
    t0 = time.monotonic()
    if a.workload == "query_suite" or a.trace:
        tables.generate(tables_dir, a.seed)
    tables_s = time.monotonic() - t0
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}"
    artifact = os.path.join(BUILD, "runs", name + ".json")
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dfile.encoding=UTF-8", f"-Xmx{heap()}", "-XX:+UseParallelGC",
              "-XX:NewRatio=1", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
              "perfbench.PerfBench", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cores", str(cores),
              "--turns", str(TURNS[a.workload]),
              "--work", work, "--out", artifact,
              "--tables", tables_dir, "--tables-seconds", repr(tables_s)])
    log = os.path.join(BUILD, "runs", name + ".log")
    with open(log, "w") as out:
        budget = max(30.0, DEADLINE_S - (time.monotonic() - start))
        code = run_group(cmd, budget, cwd=ROOT, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(artifact):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM failed (exit {code}), log in {log}")
    with open(artifact) as f:
        res = json.load(f)

    failures = list(res["failures"])
    failed = res["failed"]
    attempted = res["attempted"]
    queries = os.path.join(work, "queries")
    if os.path.isdir(queries):
        bad = oracle_failures(tables_dir, queries)
        failures += [f"oracle {b}" for b in bad]
        # one checked result per query
        attempted += len(glob.glob(os.path.join(queries, "q*")))
        failed += len(bad)
    metrics = res["metrics"]
    missing = [m for m in wanted if m not in metrics]
    if missing:
        fail(f"metrics missing from the run: {missing}")
    for f_ in failures:
        print(f"FAILED {f_}")
    rec = res["record"]
    print(f"nproc {rec['nproc']}  load_avg before {rec['load_avg_before']} "
          f"after {rec['load_avg_after']}  host steal {rec['host_steal_share']:.3f} "
          f"idle {rec['host_idle_share']:.3f}  artifact {os.path.relpath(artifact, ROOT)}")
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(f"error_rate {failed / attempted:.6g} ratio")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {m: metrics[m] for m in wanted}}))


if __name__ == "__main__":
    main()
