#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload serve_local --seed 1 --seconds 10 --trace 0

The first run builds the program and the benchmark from source with sbt
(the build in perfbench/ depends on the program's build at the root);
later runs reuse the build while the sources are unchanged. Each run
starts one JVM, prints a summary line and, as the last line of stdout,
the JSON result. The full record (provenance, tail latency, per-layer
metrics, failed checks) and, for traced runs, the spans are written
under .bench_build/perfbench/results/. The exit code is 0 only when
every output check passed.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("serve_local", "grid_sweep", "curate_dedup")
BUILD_TIMEOUT_S = 840
# a run must end within 180 s, or 900 s when it builds first
RUN_DEADLINE_S = 175
BUILD_RUN_DEADLINE_S = 895
HEAP = "3g"
# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# The program's own run settings (build.sbt): C1-only JIT, so fresh
# generated code compiles at once, and a code cache large enough that
# the JIT never stops.
JIT_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=1g"]
# keeps the JVM from writing its perf-data file outside the checkout
NO_PERF_DATA = ["-XX:-UsePerfData"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the two builds read, as sorted relative paths."""
    out = ["build.sbt", "perfbench/build.sbt"]
    for d in ("project", "perfbench/project"):
        p = os.path.join(root, d)
        if os.path.isdir(p):
            out += [os.path.join(d, f) for f in os.listdir(p)
                    if f.endswith((".sbt", ".scala", ".properties"))]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.relpath(os.path.join(d, f), root) for f in files]
    return sorted(out)


def fingerprint(root):
    h = hashlib.sha256()
    for rel in source_files(root):
        h.update(rel.encode() + b"\0")
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None


def build(root, work, source_sha):
    """Builds unless the stamp matches the sources; returns the classpath
    file and whether a build ran."""
    stamp = os.path.join(work, "stamp")
    classpath_file = os.path.join(root, "perfbench", "target", "classpath.txt")
    if os.path.isfile(stamp) and os.path.isfile(classpath_file):
        with open(stamp) as f:
            if f.read().strip() == source_sha:
                return classpath_file, False
    if shutil.which("sbt") is None:
        fail("sbt is needed to build the program")
    log = os.path.join(work, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.global.base=" + os.path.join(work, "sbt-global"),
           "benchClasspath"]
    with open(log, "w") as lf:
        code, _ = run_bounded(cmd, BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"),
                              stdout=lf, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.isfile(classpath_file):
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        fail("build failed" if code is not None else "build timed out", 1)
    with open(stamp, "w") as f:
        f.write(source_sha)
    return classpath_file, True


def git_sha(root):
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, env=env,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else ""
    except (OSError, subprocess.TimeoutExpired):
        return ""


def main():
    t0 = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a checkout of the program: {need} is missing")
    work = os.path.join(root, ".bench_build", "perfbench")
    results = os.path.join(work, "results")
    tmp = os.path.join(work, "tmp")
    for d in (results, tmp):
        os.makedirs(d, exist_ok=True)

    source_sha = fingerprint(root)
    classpath_file, did_build = build(root, work, source_sha)
    with open(classpath_file) as f:
        classpath = f.read().strip()

    nproc = len(os.sched_getaffinity(0))
    # one client on at most four Spark cores, so figures from hosts with
    # more cores stay comparable
    cores = min(4, nproc)
    jvm = (["java", f"-Xmx{HEAP}"] + JIT_FLAGS + NO_PERF_DATA
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + tmp,
              "-Dspark.local.dir=" + tmp,
              "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
              f"-Dperfbench.cores={cores}", f"-Dperfbench.nproc={nproc}",
              "-Dperfbench.git_sha=" + git_sha(root),
              "-Dperfbench.source_sha256=" + source_sha,
              "-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--out", results])
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    log = os.path.join(results, tag + ".log")
    limit = BUILD_RUN_DEADLINE_S if did_build else RUN_DEADLINE_S
    budget = limit - (time.monotonic() - t0)
    with open(log, "w") as lf:
        code, out = run_bounded(jvm, budget, cwd=root, stdout=subprocess.PIPE,
                                stderr=lf, stdin=subprocess.DEVNULL, text=True,
                                # Spark prefers this variable to spark.local.dir
                                env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))
    shutil.rmtree(tmp, ignore_errors=True)
    if code is None:
        fail(f"{a.workload} did not finish within {budget:.0f} s (log: {log})", 1)
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed",
                                                       "metrics"}:
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        fail(f"{a.workload} exited with code {code} without a result (log: {log})", 1)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    sys.exit(0 if code == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
