#!/usr/bin/env python3
"""Benchmark entry point; run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the graft library and the harness in perfbench/ (once per source
state, cached in .bench_build/), generates the workload's inputs from the
seed, runs one workload in one JVM on local[<cores>], checks the outputs
and prints one JSON result line last on stdout. With --trace 0 the result
holds the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer metrics (spans go to .bench_build/traces/).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["bfr_bulk", "bfr_stream", "registry"]
RUN_BUDGET_S = 170
# cold set-ups per untraced run: the workload's JVM plus this many more
# JVMs that only start a session, run its first job and exit (~8 s each)
SETUP_PROBES = 1
SETUP_PROBE_BUDGET_S = 25
JVM_HEAP = "3g"
# Spark on JDK 17 outside spark-submit (same list as the root build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# per-layer metric prefixes and the workloads whose layers they measure;
# on other workloads the layer does no work and reports 0
BFR = ("bfr_bulk", "bfr_stream")
LAYER_SCOPE = {
    "sources.": BFR, "bfr.": BFR, "kmeans.": BFR, "engine.": BFR,
    "operators.": BFR, "functions.": BFR, "registry.": ("registry",),
}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads, so a checkout builds once."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    # offline: every dependency comes from the local caches
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    repo_cfg = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "-Dsbt.repository.config" not in opts and os.path.exists(repo_cfg):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repo_cfg}"
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=600)
    cps = [l.strip() for l in r.stdout.splitlines() if ".jar" in l and os.pathsep in l
           and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die("build failed", 1)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def java_cmd(cp, work, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    return [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC"] + [
        x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
        "-cp", cp, "perfbench.Main"] + args


def setup_probe(cp, work, cores, budget_s):
    """Seconds from a fresh JVM's start until its session has run its first job."""
    os.makedirs(os.path.join(work, "tmp"))
    try:
        r = subprocess.run(java_cmd(cp, work, ["--setup-only", "1", "--work", work, "--cores", str(cores)]),
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=budget_s)
    except subprocess.TimeoutExpired:
        die("set-up probe did not finish within its budget", 1)
    lines = [l for l in r.stdout.splitlines() if l.startswith("PERFBENCH_SETUP ")]
    if r.returncode != 0 or not lines:
        die(f"set-up probe exited with {r.returncode} and no result", 1)
    return float(lines[-1].split()[1])


def oracle_check(tables, dumps, queries, budget_s):
    """Compare the timed pass's dumps with the DuckDB oracles; returns the
    queries whose rows do not match (a missing dump counts as a mismatch)."""
    env = dict(os.environ, CHECK_ORACLE_SPILL_DIR=os.path.join(os.path.dirname(dumps), "duckdb"))
    r = subprocess.run([sys.executable, os.path.join("tools", "check_oracle.py"), tables, dumps],
                       cwd=ROOT, env=env, capture_output=True, text=True, timeout=budget_s)
    passed = set()
    for line in r.stdout.splitlines():
        if line.startswith("PASS ("):
            passed = set(line.split(":", 1)[1].split())
    bad = [q for q in queries if q not in passed]
    for q in bad:
        print(f"perfbench: oracle mismatch: {q}", file=sys.stderr)
    if bad:
        sys.stderr.write(r.stdout[-3000:])
    return bad


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    needed = [spec_file, os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "src", "main", "scala", "graft"),
              os.path.join(ROOT, "tools", "check_oracle.py")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        die("run from the root of a graft checkout; missing " +
            ", ".join(os.path.relpath(p, ROOT) for p in missing))
    with open(spec_file) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    cp = build()
    # the build is not part of the run's budget; the set-up probes get
    # their share of it at the end
    deadline = time.time() + RUN_BUDGET_S
    reserve = 0 if a.trace else SETUP_PROBES * SETUP_PROBE_BUDGET_S

    def left():
        return max(1.0, deadline - reserve - time.time())

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)

    jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--cores", str(cores),
                "--traceout", os.path.join(traces, f"{a.workload}-{a.seed}")]
    if a.workload == "registry":
        tables = os.path.join(work, "tables")
        subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"), tables,
                        "--seed", str(a.seed)], check=True, timeout=left())
        jvm_args += ["--data", tables]

    cmd = java_cmd(cp, work, jvm_args)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=left())
        except subprocess.TimeoutExpired:
            die(f"workload did not finish within the run budget (log: {log})", 1)
    lines = [l for l in r.stdout.splitlines() if l.startswith("PERFBENCH ")]
    if r.returncode != 0 or not lines:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"JVM exited with {r.returncode} and no result", 1)
    res = json.loads(lines[-1][len("PERFBENCH "):])
    info, metrics = res["info"], res["metrics"]
    attempted, failed, checks = res["attempted"], res["failed"], list(res["checks"])

    if a.workload == "registry":
        queries = info["queries"].split(",")
        bad = oracle_check(tables, info["dumps"], queries, left())
        checks += [f"oracle mismatch: {q}" for q in bad]
        failed = min(attempted, failed + len(bad) * int(info["passes"]))
        if not a.trace:
            metrics["quality"] = (len(queries) - len(bad)) / len(queries)

    if not a.trace:
        # the median of several cold set-ups: this run's JVM and the probes
        setups = [float(info["setup_s"])] + [
            setup_probe(cp, os.path.join(work, f"setup{i}"), cores, SETUP_PROBE_BUDGET_S)
            for i in range(SETUP_PROBES)]
        metrics["setup_s"] = statistics.median(setups)
        info["setup_runs_s"] = ",".join(f"{x:.3f}" for x in setups)

    # tracing overhead: this traced run's first (cold) operation against
    # the median first operation of the untraced runs in this checkout;
    # no operation finished when a failure left no wall time
    history = os.path.join(BUILD, "history", f"{a.workload}.json")
    walls = json.load(open(history)) if os.path.exists(history) else []
    if info["op_wall_s"]:
        first = float(info["op_wall_s"].split(",")[0])
        if a.trace:
            metrics["trace.overhead_s"] = first - statistics.median(walls) if walls else 0.0
        elif failed == 0 and not checks:
            os.makedirs(os.path.dirname(history), exist_ok=True)
            with open(history, "w") as f:
                json.dump(walls + [first], f)

    out = {}
    for m in wanted:
        name = m["name"]
        if name in metrics:
            v = metrics[name]
        elif any(name.startswith(p) and a.workload not in w for p, w in LAYER_SCOPE.items()):
            v = 0.0
        else:
            checks.append(f"metric {name} not reported")
            v = None
        out[name] = {"value": v, "unit": m["unit"]}
    for c in checks:
        print(f"perfbench: check failed: {c}", file=sys.stderr)
    info.pop("queries", None)
    print("perfbench: " + json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                                      "wall_s": round(time.time() - t_start, 1), **info}))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and not checks, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
