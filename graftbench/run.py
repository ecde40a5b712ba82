#!/usr/bin/env python3
"""Benchmark launcher for the graft Spark engine.

    python3 graftbench/run.py --workload index_zipf --seed 7 --seconds 10 --trace 0

Run from the repository root. On first use (or when any source changed)
it builds the program and the benchmark with sbt; then it starts fresh
JVMs with a fixed heap: with --trace 0, three that only time session
set-up (setup_s is their median), then the one that generates the
inputs, warms up, times and checks the workload. It prints one stamp
line and, last, one JSON result line. See graftbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSPATH = os.path.join(BENCH, "target", "runtime-classpath.txt")
DIGEST = os.path.join(BENCH, "target", "source-digest.txt")
WORKLOADS = ("index_zipf", "relational_mix")

# Fixed heap, printed with every result (the task-slot count is fixed in
# Main.scala). -Xms = -Xmx keeps heap sizing out of the timings.
HEAP_MB = 3072
SETUP_PROBES = 3          # set-up-only JVMs per untraced run
RUN_LIMIT_S = 170         # a run (after any build) must end within this
BUILD_LIMIT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every file the build reads; names the code measured."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    if os.path.exists(CLASSPATH) and os.path.exists(DIGEST):
        with open(DIGEST) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "wb") as log:
        p = subprocess.Popen(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                             cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        if wait(p, BUILD_LIMIT_S) != 0:
            fail(f"build failed; see {os.path.relpath(log.name, ROOT)}", 3)
    with open(DIGEST, "w") as fh:
        fh.write(digest + "\n")


def wait(p, limit):
    """Wait for p; past the limit kill its whole process group."""
    try:
        return p.wait(timeout=max(1, limit))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def jvm(args, work, deadline, probe=False):
    """Runs the benchmark JVM; returns its GRAFTBENCH records. A probe
    only times JVM spawn -> session built."""
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # no hsperfdata file, and temp files (snappy's native library too) in the work dir
    cmd = [java, f"-Xms{HEAP_MB}m", f"-Xmx{HEAP_MB}m", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd += ["-cp", cp, "graftbench.Main", "--work", work] + args
    if probe:
        cmd += ["--probe", repr(time.time())]
    p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                         stderr=sys.stderr, start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("benchmark JVM ran past the time limit", 4)
    if p.returncode != 0:
        fail(f"benchmark JVM exited with {p.returncode}", 4)
    recs = [json.loads(l[len("GRAFTBENCH "):]) for l in out.splitlines() if l.startswith("GRAFTBENCH ")]
    return {r.pop("kind"): r for r in recs}


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat; None elsewhere."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return None


def git_sha():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() or None


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail("the program's sources (src/main/scala, build.sbt) are not next to the benchmark")
    digest = source_digest()
    build(digest)

    deadline = time.time() + RUN_LIMIT_S
    load_start = os.getloadavg()[0]
    ticks_start = cpu_ticks()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        setups = []
        if not a.trace:
            for i in range(SETUP_PROBES):
                r = jvm([], os.path.join(work, f"probe{i}"), deadline, probe=True)
                setups.append(r["setup"]["setup_s"])
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
        recs = jvm(args, os.path.join(work, "main"), deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res = recs["result"]
    metrics = res["metrics"]
    if not a.trace and metrics:
        metrics["setup_s"] = {"value": statistics.median(setups), "unit": "s"}
    ticks_end = cpu_ticks()
    steal = None
    if ticks_start and ticks_end and ticks_end[1] > ticks_start[1]:
        steal = (ticks_end[0] - ticks_start[0]) / (ticks_end[1] - ticks_start[1])
    print(json.dumps({"stamp": {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "nproc": os.cpu_count(), "task_slots": res.get("task_slots"), "heap_mb": HEAP_MB,
        "git_sha": git_sha(), "source_digest": digest[:16],
        "spark_version": res.get("spark_version"), "java_version": res.get("java_version"),
        "load_1m_start": load_start, "load_1m_end": os.getloadavg()[0], "cpu_steal_share": steal,
        "gen_s": res.get("gen_s"), "warmup_executions": res.get("warmup_executions"),
        "timed_executions": res.get("timed_executions"), "setup_samples_s": setups}}))
    attempted, failed = int(res["attempted"]), int(res["failed"])
    print(json.dumps({"correct": failed == 0 and attempted > 0 and bool(metrics),
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
