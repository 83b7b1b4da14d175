#!/usr/bin/env python3
"""Benchmark entry point: builds the program with the benchmark code,
runs one workload in a fresh JVM and prints its result.

Usage (from the repository root):
    python3 perfbench/run.py --workload year_load --seed 1 --seconds 10 --trace 0

Workloads: analyst_queries, monthly_refresh (see perfbench/README.md). The
last line of standard output is one JSON object: {"correct", "attempted",
"failed", "metrics"}; --trace 0 reports the end-to-end metrics, --trace 1
the per-layer ones plus the tracing overhead against the last untraced run
of the workload. Everything a run writes stays under perfbench/: build
output in perfbench/target, inputs and Spark scratch in a per-run directory
of perfbench/work (removed at exit), and in perfbench/work the last
untraced result and the spans of the last traced run of each workload.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ("analyst_queries", "monthly_refresh")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                                env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                timeout=850).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.isdir(CLASSES):
        fail(f"build failed (log: {os.path.relpath(log, ROOT)})", 3)
    with open(STAMP, "w") as f:
        f.write(stamp)


def report_overhead(traced_path, untraced_path):
    """Prints traced minus untraced for every end-to-end metric."""
    traced = json.load(open(traced_path))["metrics"]
    if not os.path.exists(untraced_path):
        print("[perfbench] trace_overhead: no untraced run of this workload to compare with")
        untraced = {}
    else:
        untraced = json.load(open(untraced_path))["metrics"]
    for k in sorted(traced):
        t = traced[k]["value"]
        line = f"[perfbench] traced {k}: {t:.6g} {traced[k]['unit']}"
        if k in untraced:
            u = untraced[k]["value"]
            line += f"; untraced {u:.6g}; trace_overhead {t - u:+.6g}"
        print(line)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC, os.getcwd())}", 2)
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must name a Spark installation", 2)
    build()

    runs = os.path.join(HERE, "work")
    work = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    # a fixed-size heap under the parallel collector: the resident-memory
    # high-water mark then follows the program's retained data instead of
    # the collector's resizing decisions
    # (-XX:-UsePerfData: no hsperfdata file outside the checkout)
    cmd = ["java", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/spark-local", f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j2.level=ERROR"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{jars}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    err = work + ".stderr"
    try:
        with open(err, "w") as e:
            proc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=e,
                                  stdin=subprocess.DEVNULL, text=True, timeout=175)
        sys.stdout.write(proc.stdout)
        result = os.path.join(work, "result.json")
        if proc.returncode != 0 or not os.path.exists(result):
            tail = open(err, errors="replace").read()[-3000:]
            fail(f"run failed (exit {proc.returncode}):\n{tail}", 4)
        line = open(result).read().strip()
        json.loads(line)
        untraced = os.path.join(runs, f"untraced-{a.workload}.json")
        if a.trace == 0:
            with open(untraced, "w") as f:
                f.write(line + "\n")
        else:
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(runs, f"spans-{a.workload}.jsonl"))
            report_overhead(os.path.join(work, "traced_e2e.json"), untraced)
    except subprocess.TimeoutExpired:
        fail("run exceeded its time limit", 5)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(err):
            os.remove(err)
    print(line, flush=True)


if __name__ == "__main__":
    main()
