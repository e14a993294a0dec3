#!/usr/bin/env python3
"""KG-construction benchmark entry point.

    python3 kgbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the library and the benchmark program from source with the sbt build
in this directory (once per source state), stages the seed's inputs in a JVM
of its own when they are missing, then runs one workload in one JVM at
local[nproc]. Every line the JVMs print is forwarded (the staging JVM's to
stderr); the last stdout line is the JSON result. Staged inputs, outputs,
traces and Spark's scratch space live under kgbench/.work; nothing is
written elsewhere.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("corpus_fused", "corpus_bigdict", "adapter_import")
BUILD_TIMEOUT_S = 850
STAGE_TIMEOUT_S = 120
# the timed JVM: session start, warm-ups and minimum jobs, plus the window
RUN_TIMEOUT_BASE_S = 150


def fail(msg, code=2):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    roots = [LIB_SRC, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def kill_and_wait(proc):
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()


def build():
    launch = os.path.join(BENCH, "target", "launch.txt")
    stamp = os.path.join(WORK, "build.sha")
    want = fingerprint()
    if os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == want:
        return launch
    print("kgbench: building (sbt writeLaunch)", file=sys.stderr)
    proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                            cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=BUILD_TIMEOUT_S)
    finally:
        kill_and_wait(proc)
    if code != 0 or not os.path.exists(launch):
        fail(f"build failed (exit {code})", 1)
    with open(stamp, "w") as fh:
        fh.write(want)
    return launch


def run_jvm(cmd, env, timeout, out):
    """Run one JVM, killed after `timeout` seconds. Forwards its stdout to
    `out` except for the last line; returns the exit code and that line."""
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    timer = threading.Timer(timeout, lambda: kill_and_wait(proc))
    timer.daemon = True
    last = None
    try:
        timer.start()
        for line in proc.stdout:
            if last is not None:
                print(last, file=out, flush=True)
            last = line.rstrip("\n")
        return proc.wait(), last
    finally:
        timer.cancel()
        kill_and_wait(proc)


def main():
    # a terminated run must still kill and reap its sbt or JVM child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"library sources not found at {LIB_SRC}")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")
    os.makedirs(WORK, exist_ok=True)
    launch = build()
    with open(launch) as fh:
        jvm_args = [ln.rstrip("\n") for ln in fh if ln.strip()]

    scratch = [os.path.join(WORK, d) for d in ("spark-local", "tmp", "out")]
    for d in scratch:
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    args = [f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-Dspark.ui.enabled=false",
            *jvm_args, "kgbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", WORK]
    # the timed JVM touches its whole fixed heap at start, before any clock
    # runs: first-touch page faults otherwise land in the set-up and the
    # first jobs, and their cost depends on the host's memory load
    timed = ["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", *args]
    try:
        code, last = run_jvm(["java", "-Xmx3g", *args, "--stage", "1"], env, STAGE_TIMEOUT_S, sys.stderr)
        if last is not None:
            print(last, file=sys.stderr, flush=True)
        if code != 0:
            fail(f"staging JVM exited with {code}", 1)
        code, last = run_jvm(timed, env, RUN_TIMEOUT_BASE_S + 2 * a.seconds, sys.stdout)
    finally:
        for d in scratch:
            shutil.rmtree(d, ignore_errors=True)
    if code != 0:
        fail(f"benchmark JVM exited with {code}", 1)
    try:
        result = json.loads(last or "")
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail(f"no result line from the benchmark JVM: {last!r}", 1)
    print(last, flush=True)


if __name__ == "__main__":
    main()
