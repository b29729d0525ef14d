#!/usr/bin/env python3
"""Benchmark driver for graft: builds the engine with the harness, runs one
workload in its own JVM, and prints one JSON result as the last line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload medallion|query_mix --seed N \
        --seconds S --trace 0|1

The first call in a checkout compiles `src/main/scala` together with
`perfbench/src` (sbt, offline); later calls reuse the classes while the
sources are unchanged. A host record (core count, load average and a
short CPU/memcpy canary before and after) is printed on the line before
the result. Everything the run writes is under perfbench/.work/ and is
removed when it ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha256")
WORKLOADS = ("medallion", "query_mix")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + harness unless the classes match the sources."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "writeClasspath"]
    with open(os.path.join(BENCH, ".work", "build.log"), "w") as log:
        rc = run_child(cmd, BENCH, env, log, subprocess.DEVNULL, BUILD_LIMIT_S)
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(os.path.join(BENCH, ".work", "build.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def run_child(cmd, cwd, env, stdout, stderr, limit):
    """Runs a child in its own process group and waits for it; on timeout
    the whole group is killed. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def java_cmd(main, args, heap, tmp):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}"] + opens +
            ["-cp", cp, main] + args)


def host_reading(work):
    """Load average and the canary JVM's CPU/memcpy reading."""
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    cmd = java_cmd("graftbench.Canary", [], "256m", os.path.join(work, "tmp"))
    with open(os.path.join(work, "canary.txt"), "w") as out:
        rc = run_child(cmd, work, None, out, subprocess.DEVNULL, 60)
    if rc != 0:
        fail(f"canary exited with {rc}")
    with open(os.path.join(work, "canary.txt")) as fh:
        return {"load": load, "canary": json.loads(fh.read().strip().splitlines()[-1])}


def declared_metrics(trace):
    """Names and units BENCHMARK.json declares for this kind of run."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala; "
             "run from the root of a graft checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must name a Spark 4 installation")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
    build()
    work = os.path.join(BENCH, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        host = {"nproc": os.cpu_count(), "before": host_reading(work)}
        env = dict(os.environ, GRAFT_LAYOUT_ROOT=os.path.join(work, "catalog"))
        cmd = java_cmd("graftbench.Main",
                       [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                        work, BENCH], "4g", os.path.join(work, "tmp"))
        out_path = os.path.join(work, "stdout.txt")
        err_path = os.path.join(work, "stderr.txt")
        with open(out_path, "w") as out, open(err_path, "w") as err:
            rc = run_child(cmd, work, env, out, err, RUN_LIMIT_S - 20)
        with open(out_path) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        with open(err_path) as fh:
            notes = [ln for ln in fh.read().splitlines() if ln.startswith("[perfbench]")]
        if rc != 0 or not lines:
            with open(err_path) as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail(f"benchmark JVM exited with {rc}")
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            fail(f"malformed result line: {lines[-1][:200]}")
        declared = declared_metrics(a.trace)
        measured = {k: v["unit"] for k, v in result["metrics"].items()}
        if declared is not None and measured != declared:
            fail(f"metrics differ from BENCHMARK.json: {sorted(set(measured.items()) ^ set(declared.items()))}")
        host["after"] = host_reading(work)
        for n in notes:
            print(n, file=sys.stderr)
        print(json.dumps({"host": host}))
        print(lines[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
