#!/usr/bin/env python3
"""The repository benchmark: build, run one workload, check its outputs.

Usage (from the repository root):
  python3 perfbench/run.py --workload <extract-job|resume|driver-queries|all>
      --seed <n> --seconds <n> --trace <0|1>

It builds the engine and the benchmark's JVM side (graft.perfbench.Main)
from source with sbt (once per source state; outputs under .bench_build/),
runs Main in one fresh JVM at local[<cpus>] (set-up, then the inputs made
from the seed, then the measured operations), checks every output, and
prints as its last line one JSON object:
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (and a span trace is written under .bench_build/).
The exit code is non-zero when any output is wrong or the run fails.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["extract-job", "resume", "driver-queries"]
# the driver-queries tables: the repository's sf0.01 query test tables
QDATA = os.path.join(HERE, "tables", "sf0.01")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Everything the build reads, so a changed file forces a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "").split()
    opts.append("-Dsbt.offline=true")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    if not any(o.startswith("-Xmx") for o in opts):
        opts.append("-Xmx2g")
    env["SBT_OPTS"] = " ".join(opts)
    return env


STAMP = None


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; returns the java command prefix."""
    global STAMP
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} at {ROOT}: run from a repository checkout")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    st = STAMP = stamp()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    opts_file = os.path.join(BUILD, "jvm_options.txt")
    fresh = (os.path.exists(stamp_file) and os.path.exists(cp_file)
             and open(stamp_file).read() == st)
    if not fresh:
        t0 = time.time()
        log("building with sbt ...")
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "exportRun"],
                               cwd=HERE, env=sbt_env(), stdout=sys.stderr,
                               stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("sbt build timed out")
        if r.returncode != 0:
            fail(f"sbt build failed with code {r.returncode}")
        with open(stamp_file, "w") as f:
            f.write(st)
        log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file) as f:
        cp = f.read().strip()
    with open(opts_file) as f:
        jvm_opts = [l.strip() for l in f if l.strip()]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return [java] + jvm_opts + ["-cp", cp]


def oracle_failures(report, queries):
    """Queries that tools/check_oracle.py's report does not pass: each must
    print `OK <query> (<n> rows)` or, having no oracle, `ROWS-ONLY <query>:
    <n> rows` with n > 0. A query with no output is not passed."""
    passed = set()
    for line in report.splitlines():
        m = re.match(r"OK (\S+) \(\d+ rows\)$", line)
        if m:
            passed.add(m.group(1))
        m = re.match(r"ROWS-ONLY (\S+): (\d+) rows$", line)
        if m and int(m.group(2)) > 0:
            passed.add(m.group(1))
    return sorted(set(queries) - passed)


def check_queries(qout, deadline):
    """Failed queries of a driver-queries run, by tools/check_oracle.py."""
    with open(os.path.join(qout, "queries.json")) as f:
        names = json.load(f)
    t0 = time.time()
    try:
        p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                            QDATA, qout], capture_output=True, text=True,
                           timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        fail("driver-queries: oracle check exceeded its time limit", 3)
    bad = oracle_failures(p.stdout, names)
    empty = re.findall(r"^OK (\S+) \(0 rows\)$", p.stdout, re.M)
    log(f"oracle check in {time.time() - t0:.1f} s; oracle answers with no rows: "
        f"{', '.join(empty) or 'none'}")
    for line in p.stdout.splitlines():
        if not line.startswith(("OK ", "ROWS-ONLY ")) and line.strip():
            log(f"driver-queries oracle: {line}")
    if not p.stdout.strip():
        log(f"driver-queries oracle check printed nothing: {p.stderr[-2000:]}")
    return bad


def run_workload(java, workload, seed, seconds, trace, deadline):
    work = os.path.join(BUILD, "work", workload)
    result = os.path.join(BUILD, f"result-{workload}.json")
    if os.path.exists(result):
        os.remove(result)
    qdata = QDATA if workload == "driver-queries" else ""
    tmp = os.path.join(BUILD, "tmp")
    local = os.path.join(BUILD, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = local
    cmd = java + [f"-Djava.io.tmpdir={tmp}", "graft.perfbench.Main",
                  "--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", "1" if trace else "0",
                  "--work", work, "--qdata", qdata or "-", "--result", result,
                  "--goldens", os.path.join(ROOT, "src", "test", "resources",
                                            "goldens", "sf0.1.hashes.jsonl")]
    # the JVM's own prints (trace summary) go to stderr, keeping stdout for
    # the result lines
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = p.wait(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"{workload}: run exceeded its time limit", 3)
    if code != 0 or not os.path.exists(result):
        fail(f"{workload}: benchmark JVM failed with code {code}", 3)
    with open(result) as f:
        r = json.load(f)
    if workload == "driver-queries":
        # the JVM counts queries that threw; here every query's first-pass
        # result is checked, and one that threw has no output to pass
        bad = check_queries(os.path.join(work, "qout"), deadline)
        for q in bad:
            log(f"driver-queries: {q} failed the oracle check")
        r["failed"] = len(bad)
        r["correct"] = r["correct"] and not bad
    shutil.rmtree(work, ignore_errors=True)
    # the metrics must be exactly the ones BENCHMARK.json declares
    decl = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(decl):
        with open(decl) as f:
            b = json.load(f)
        want = [m["name"] for m in b["per_layer" if trace else "end_to_end"]]
        if sorted(want) != sorted(r["metrics"]):
            log(f"{workload}: metrics {sorted(r['metrics'])} differ from BENCHMARK.json")
            r["correct"] = False
    return r


def report(w, seed, traced, r):
    print(f"# {w} seed={seed} meta {json.dumps(r['meta'])}")
    for k, v in r["metrics"].items():
        print(f"# {w} {k} = {v['value']:.6g} {v['unit']}")
    print(f"# {w} failed_frac = {r['failed'] / max(r['attempted'], 1):.6g} ratio "
          f"({r['failed']} of {r['attempted']} docs or queries)")
    # tracing overhead = traced wall minus the untraced wall_s of the same
    # seed, when an untraced run of that seed on the same build is on record
    last = os.path.join(BUILD, f"untraced-{w}-seed{seed}.json")
    if not traced:
        with open(last, "w") as f:
            json.dump({"stamp": STAMP, "wall_s": r["metrics"]["wall_s"]["value"]}, f)
    elif os.path.exists(last):
        with open(last) as f:
            rec = json.load(f)
        if rec.get("stamp") != STAMP:
            return
        untraced = rec["wall_s"]
        tw = r["metrics"]["trace.wall_s"]["value"]
        print(f"# {w} trace_overhead = {tw - untraced:.6g} s "
              f"(traced {tw:.6g} s - untraced {untraced:.6g} s)")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.seed < 0:
        fail("--seed must be non-negative")
    java = build()
    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    # `all --trace 1` runs each workload untraced first, so the tracing
    # overhead of every workload prints in one command
    passes = [False, True] if a.trace and a.workload == "all" else [a.trace == 1]
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in workloads:
        for traced in passes:
            r = run_workload(java, w, a.seed, a.seconds, traced,
                             time.time() + RUN_TIMEOUT_S)
            report(w, a.seed, traced, r)
            total["correct"] &= r["correct"]
            total["attempted"] += r["attempted"]
            total["failed"] += r["failed"]
        prefix = f"{w}." if len(workloads) > 1 else ""
        for k, v in r["metrics"].items():
            total["metrics"][prefix + k] = v
    sys.stdout.flush()
    print(json.dumps(total))
    sys.exit(0 if total["correct"] and total["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
