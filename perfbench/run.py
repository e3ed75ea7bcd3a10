#!/usr/bin/env python3
"""graft benchmark: builds graft and the benchmark from this checkout's
sources, then runs one workload in one JVM.

    python3 perfbench/run.py --workload ingest_foreign --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of stdout is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}; the
line before it is the run's context (sample counts, setup parts, the
box-speed kernel). Build outputs, inputs and traces stay under
.bench_build/ in the checkout.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("ingest_foreign", "write_read_indexed")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit (as in the root build.sbt).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
]


CHILD = None  # the sbt or java process group running now


def stop_child():
    """Kills the child's whole process group (sbt's launcher script starts
    a JVM of its own) and waits, so no process outlives the run."""
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()


def on_signal(signum, _frame):
    stop_child()
    sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Runs cmd to completion; returns (returncode, stdout) or None on timeout."""
    global CHILD
    CHILD = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True, **kw)
    try:
        out, _ = CHILD.communicate(timeout=timeout)
        return CHILD.returncode, out
    except subprocess.TimeoutExpired:
        stop_child()
        return None
    finally:
        CHILD = None


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles with sbt once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft sources not found: run from the root of a graft checkout")
    cp_file = os.path.join(OUT, "classpath.txt")
    fp = source_fingerprint()
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == fp:
            return cp.strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"],
                  BUILD_TIMEOUT_S, cwd=HERE, env=env, stderr=subprocess.STDOUT)
    if r is None:
        die("build timed out", 3)
    code, out = r
    lines = [ln for ln in out.splitlines() if ln.startswith("/") and ".jar" in ln]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        die("build failed", 3)
    with open(cp_file, "w") as fh:
        fh.write(fp + "\n" + lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    cp = build()
    work = os.path.join(OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    os.makedirs(env["SPARK_GRAFT_SCRATCH"])
    # A fixed heap and young generation under the parallel collector make
    # the GC work per op repeat from run to run (G1 resizes adaptively).
    # -UsePerfData: the JVM would otherwise write its counters outside the
    # checkout.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}", *ADD_OPENS, "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", work, "--t0-ms", str(int(time.time() * 1000))]
    try:
        r = run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r is None:
        die("run timed out", 4)
    code, out = r
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        die(f"run failed with exit code {code}", 5)
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        die("malformed result line", 5)
    sys.stdout.write(out if out.endswith("\n") else out + "\n")


if __name__ == "__main__":
    main()
