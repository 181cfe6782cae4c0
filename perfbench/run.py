#!/usr/bin/env python3
"""graft performance benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload lakehouse|serve \
        --seed N --seconds N --trace 0|1
    python3 perfbench/run.py --smoke

Run it from the root of a checkout. It builds the engine and the harness
from the checkout's sources (once; later runs reuse the build while the
sources are unchanged), writes seeded inputs into a fresh per-run scratch
directory, runs the workload in one JVM, checks the outputs against DuckDB
and prints one JSON line as the LAST line of stdout:

    {"correct": true, "attempted": N, "failed": N, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, from a run with spans and
listeners on. The exit code is 0 when every output check passed, 1 when
one failed, and 2 or more when the run could not be made at all (then no
result line is printed). NOTES.md explains every metric.

--smoke runs every workload briefly at a tiny input size, in both trace
modes, and asserts that every named metric is present.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import gen_data

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(HERE, ".runs")
TRACES = os.path.join(HERE, ".traces")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha256")

# Input scale factor of the generated tables (sf0.01: 60k lineitem rows).
SF = 0.01
WORKLOADS = ("lakehouse", "serve")
RUN_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these when a session is created outside
# spark-submit (the list spark-submit itself passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


STARTED = time.time()


def log(msg):
    print(f"[run.py +{time.time() - STARTED:.1f}s] {msg}", file=sys.stderr,
          flush=True)


def fail(code, msg):
    log(f"error: {msg}")
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if not os.path.isdir(r):
            fail(2, f"missing source directory {os.path.relpath(r, ROOT)}: "
                    "run from the root of a full checkout")
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build():
    """Compile engine + harness with sbt unless the sources are unchanged."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    log("building (sbt writeClasspath) ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except FileNotFoundError:
        fail(3, "sbt not found on PATH")
    except subprocess.TimeoutExpired:
        fail(3, "build timed out")
    if p.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        fail(3, f"build failed (exit {p.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.0f} s")


def java_bin():
    jh = os.environ.get("JAVA_HOME")
    return os.path.join(jh, "bin", "java") if jh else "java"


def run_jvm(args, run_dir, deadline):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(run_dir, "scratch", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java_bin()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # the throughput collector: no concurrent GC threads competing with the
    # Spark task threads on a small host
    # Clock.cpuS subtracts HotSpot's internal-thread CPU: it reads it from
    # sun.management, and needs compiler threads that never exit
    cmd += ["--add-exports", "java.management/sun.management=ALL-UNNAMED",
            "-XX:-UseDynamicNumberOfCompilerThreads"]
    cmd += ["-Xmx3g", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "perfbench.Main"] + args
    log("launching JVM")
    proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("JVM exceeded the run deadline; stopping it")
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


# ---- output checks ----

def check_outputs(data_dir, check_dir, oracle):
    """Compare each written output with its DuckDB oracle on the run's
    inputs, as exact multisets of rows over the same column names (the
    rule of tools/check.py, evaluated inside DuckDB so large outputs stay
    cheap). Returns the names that do not match."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, f)}'")
    bad = []
    for name, sql in sorted(oracle.items()):
        mine = f"SELECT * FROM '{os.path.join(check_dir, name)}/*.parquet'"
        try:
            ref = con.sql(sql)
            mc, rc = sorted(con.sql(mine).columns), sorted(ref.columns)
            hug = [c for c, t in zip(ref.columns, ref.types) if str(t) == "HUGEINT"]
            cols = ", ".join(f'"{c}"' for c in mc)

            def extra(x, y):
                return con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM ({x}) "
                               f"EXCEPT ALL SELECT {cols} FROM ({y}))").fetchone()[0]
            why = ("oracle emits HUGEINT" if hug else
                   f"columns {mc} vs {rc}" if mc != rc else "")
            if not why:
                n_mine, n_ref = extra(mine, sql), extra(sql, mine)
                if n_mine or n_ref:
                    why = f"{n_mine} rows only in the output, {n_ref} only in the oracle"
        except Exception as e:  # noqa: BLE001 - any error fails the check
            why = f"{type(e).__name__}: {e}"
        if why:
            log(f"output check FAILED {name}: {why}")
            bad.append(name)
    log(f"output checks: {len(oracle) - len(bad)}/{len(oracle)} match DuckDB")
    return bad


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def one_run(a):
    spec = load_spec()
    build()
    deadline = time.time() + RUN_TIMEOUT_S
    os.makedirs(RUNS, exist_ok=True)
    run_dir = os.path.join(RUNS, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data_dir = os.path.join(run_dir, "data")
        gen_data.generate(data_dir, a.sf, a.seed)
        # set-up is measured from here: the build and the benchmark's own
        # input generation are left out
        t_setup = time.time()
        out_dir = os.path.join(run_dir, "out")
        rc = run_jvm(["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--data", data_dir,
                      "--scratch", os.path.join(run_dir, "scratch"),
                      "--out", out_dir, "--t0-ms", str(int(t_setup * 1000))],
                     run_dir, deadline)
        result_file = os.path.join(out_dir, "result.json")
        if rc != 0 or not os.path.exists(result_file):
            fail(4, f"benchmark JVM exited with {rc}")
        with open(result_file) as fh:
            res = json.load(fh)
        log("JVM finished")
        for msg in res["failures"]:
            log(f"op failed: {msg}")
        # ops that failed their own in-run check are already in "failures"
        bad = check_outputs(data_dir, os.path.join(out_dir, "check"),
                            res["oracle_sql"]) + res["checks_unwritten"]
        correct = not bad and not res["bad_outputs"]
        os.makedirs(TRACES, exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        shutil.copy(result_file, os.path.join(TRACES, f"{tag}.result.json"))
        trace_file = os.path.join(out_dir, "trace.jsonl")
        if os.path.exists(trace_file):
            shutil.copy(trace_file, os.path.join(TRACES, f"{tag}.trace.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    section = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in section:
        v = res["metrics"].get(m["name"])
        if v is None:
            fail(5, f"metric {m['name']} missing from the JVM result")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    attempted = max(1, int(res["attempted"]))
    failed = min(attempted, len(res["failures"]) + len(bad))
    out = {"correct": correct, "attempted": attempted, "failed": failed,
           "metrics": metrics}
    print(json.dumps(out), flush=True)
    return 0 if correct else 1


def smoke():
    """Every workload, both trace modes, tiny inputs: every metric named in
    BENCHMARK.json must be reported, finite, with its unit."""
    spec = load_spec()
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w,
                 "--seed", "1", "--seconds", "4", "--trace", str(trace),
                 "--sf", "0.001"],
                cwd=ROOT, stdout=subprocess.PIPE,
                timeout=BUILD_TIMEOUT_S + RUN_TIMEOUT_S + 60)
            lines = p.stdout.decode().strip().splitlines()
            if p.returncode != 0 or not lines:
                problems.append(f"{w}/trace{trace}: exit {p.returncode}")
                continue
            res = json.loads(lines[-1])
            want = spec["per_layer"] if trace else spec["end_to_end"]
            for m in want:
                got = res["metrics"].get(m["name"])
                if (got is None or got["unit"] != m["unit"]
                        or not math.isfinite(got["value"])):
                    problems.append(f"{w}/trace{trace}: {m['name']} -> {got}")
            if set(res["metrics"]) != {m["name"] for m in want}:
                problems.append(f"{w}/trace{trace}: unexpected metric names")
            if not res["correct"]:
                problems.append(f"{w}/trace{trace}: output check failed")
            log(f"smoke {w} trace={trace}: ok ({res['attempted']} ops)")
    for p in problems:
        log(f"smoke FAILED: {p}")
    print(json.dumps({"smoke": "fail" if problems else "ok",
                      "problems": problems}))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF,
                    help="input scale factor (default %(default)s)")
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if a.smoke:
        sys.exit(smoke())
    if not a.workload:
        ap.error("--workload is required")
    sys.exit(one_run(a))


if __name__ == "__main__":
    main()
