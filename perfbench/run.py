#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the harness (perfbench/build.sbt, which compiles the repo's main
sources as a source dependency) on first use, runs one JVM for the
workload, checks the outputs, and prints one line per metric followed by
a JSON result object as the last line of standard output.

The sf0.1 test tables are read from $SPARK_GRAFT_SF_DIR, or else from the
default data directory of the repo's own `graft.Bench` main.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Digest of every input the harness build depends on."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in sorted(os.walk(d)):
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, deadline):
    """Compile the harness with sbt; returns its runtime classpath and
    the source stamp it was built from."""
    out = os.path.join(root, BUILD)
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp(root)
    cp_file = os.path.join(out, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"], stamp
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(out, 'sbt-global')}",
           "export Runtime/fullClasspath"]
    with open(os.path.join(out, "build.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=HERE, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            kill(proc)
            fail("build timed out", 3)
        log.write(stdout)
    lines = [ln for ln in stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (see {BUILD}/build.log)", 3)
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath, stamp


def kill(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def jvm(classpath, main):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # a fixed, pre-touched heap, so that the resident set moves with the
    # program's native memory and not with heap-growth decisions; the
    # harness adds the live heap itself (see `Memory` in Probes.scala)
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-cp", classpath, main]


def run_logged(cmd, cwd, log_path, limit):
    """Run `cmd` with its output in `log_path`; kill its whole process
    group and fail if it outlives `limit` seconds."""
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    # few malloc arenas: glibc's default of eight per core makes the
    # native resident set swing from run to run
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True, env=env)
        try:
            proc.wait(timeout=max(5, limit))
        except subprocess.TimeoutExpired:
            kill(proc)
            fail(f"run exceeded its time limit (see {log_path})", 4)
    return proc


def build_fixtures(root, classpath, data, fixtures, deadline):
    """Build the aged topics into `fixtures`, dropping those of any
    other build."""
    parent = os.path.dirname(fixtures)
    if os.path.isdir(parent):
        for d in os.listdir(parent):
            old = os.path.join(parent, d)
            if old == fixtures:
                continue
            if os.path.isdir(old):
                shutil.rmtree(old, ignore_errors=True)
            else:
                os.remove(old)
    os.makedirs(fixtures, exist_ok=True)
    log_path = os.path.join(root, BUILD, "logs", "fixtures.log")
    proc = run_logged(jvm(classpath, "perfbench.Fixtures") + [data, fixtures],
                      fixtures, log_path, deadline - time.time())
    if proc.returncode != 0:
        fail(f"fixture build failed (see {log_path})", 3)
    open(os.path.join(fixtures, "ready"), "w").close()


def data_dir(root):
    d = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not d:
        bench = os.path.join(root, "src", "main", "scala", "graft", "Bench.scala")
        m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', open(bench).read())
        d = m.group(1) if m else ""
    if not os.path.exists(os.path.join(d, "events.parquet")):
        fail(f"test data not found at '{d}' (set SPARK_GRAFT_SF_DIR)")
    return d


# --- result canonicalization, shared with make_golden.py -----------------

def canon_value(v):
    if v is None:
        return "null"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def result_digest(cursor):
    """(rows, sha256) of a result, columns ordered by name and rows
    sorted, as the repo's correctness checker compares them."""
    names = [d[0] for d in cursor.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = sorted("|".join(canon_value(r[i]) for i in order) for r in cursor.fetchall())
    h = hashlib.sha256(",".join(names[i] for i in order).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return len(rows), h.hexdigest()


def check_golden(results_dir, data):
    """Hash each analytic result against the golden the DuckDB oracles
    produced; returns (attempted, failures)."""
    import duckdb
    with open(os.path.join(HERE, "golden", "sf0.1.json")) as f:
        golden = json.load(f)
    failures = []
    sizes = {t: os.path.getsize(os.path.join(data, t)) for t in golden["data"]}
    if sizes != golden["data"]:
        failures.append(f"test data differs from the golden's: {sizes}")
    con = duckdb.connect()
    names = sorted(os.listdir(results_dir)) if os.path.isdir(results_dir) else []
    for q in names:
        want = golden["queries"].get(q)
        got = result_digest(con.execute(f"SELECT * FROM '{results_dir}/{q}/*.parquet'"))
        if want is None or [want["rows"], want["sha256"]] != list(got):
            failures.append(f"{q}: result {got} != golden {want}")
    if not names:
        failures.append("no analytic results to check")
    return len(names), failures


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    for need in ("build.sbt", os.path.join("src", "main", "scala"), spec_path):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"not a repository checkout: {need} is missing")
    with open(spec_path) as f:
        spec = json.load(f)
    data = data_dir(root)

    classpath, stamp = build(root, t_start + FIRST_RUN_LIMIT_S - 60)
    # the aged topics are written by the code under test, so they are
    # cached per source stamp: a rebuilt harness rebuilds them too
    fixtures = os.path.join(root, BUILD, "fixtures", stamp[:16])
    built = False
    if not os.path.exists(os.path.join(fixtures, "ready")):
        build_fixtures(root, classpath, data, fixtures, t_start + FIRST_RUN_LIMIT_S - 60)
        built = True
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - t_start)

    work = os.path.join(root, BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_json = os.path.join(work, "result.json")
    cmd = jvm(classpath, "perfbench.Bench") + [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work, "--fixtures", fixtures,
            "--out", out_json]
    log_path = os.path.join(root, BUILD, "logs", f"{a.workload}-s{a.seed}-t{a.trace}.log")
    proc = run_logged(cmd, work, log_path, limit)
    if not os.path.exists(out_json):
        fail(f"the run produced no result, exit {proc.returncode} (see {log_path})", 4)
    with open(out_json) as f:
        res = json.load(f)

    attempted, failed = res["attempted"], res["failed"]
    failures = list(res.get("failures", []))
    if a.workload == "query_mix":
        n, bad = check_golden(os.path.join(work, "results"), data)
        attempted += n
        failed += len(bad)
        failures += bad
    correct = bool(res["correct"]) and not failures and proc.returncode == 0

    kind = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in spec[kind]:
        got = res["metrics"].get(m["name"])
        if got is None or got["value"] is None:
            fail(f"the run did not measure {m['name']}", 5)
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}

    if a.trace and os.path.exists(os.path.join(work, "trace.jsonl")):
        traces = os.path.join(root, BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "trace.jsonl"),
                    os.path.join(traces, f"{a.workload}-s{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    for k, v in res.get("notes", {}).items():
        print(f"# {k}: {v}")
    for f_ in failures:
        print(f"# FAILED: {f_}")
    for k, v in metrics.items():
        print(f"{k:48s} {v['value']:16.6g} {v['unit']}")
    print(f"correct={correct} attempted={attempted} failed={failed} "
          f"failed_share={failed / max(1, attempted):.6g}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
