#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 etlbench/run.py --workload xml_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (offline) into etlbench/target; later runs
reuse that build while the sources are unchanged. Each run then starts one
JVM that resets its work directory, generates the seeded inputs, runs the
workload and checks its output. Everything the run writes stays under
etlbench/target.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
JVM_OPTIONS = os.path.join(TARGET, "jvm.options")
STAMP = os.path.join(TARGET, "build.stamp")
WORKLOADS = ("xml_batch", "xml_incremental")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700

def fail(msg):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    paths = []
    for base in (ROOT, BENCH):
        src = os.path.join(base, "src", "main")
        paths += sorted(os.path.join(d, f) for d, _, fs in os.walk(src) for f in fs)
        for d in (base, os.path.join(base, "project")):
            if os.path.isdir(d):
                paths += sorted(os.path.join(d, f) for f in os.listdir(d)
                                if f.endswith((".sbt", ".scala", ".properties")))
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def read_lines(path):
    """The non-blank lines of a file, stripped."""
    with open(path) as f:
        return [ln.strip() for ln in f if ln.strip()]


def run_bounded(cmd, cwd, env, log_path, limit_s, stdout=None):
    """Run cmd in its own process group; kill the group after limit_s."""
    with open(log_path, "ab") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout or log, stderr=log,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None, None
    return p.returncode, out


def build():
    """Compile the program and the benchmark when their sources changed.

    Returns the runtime classpath, the JVM options sbt wrote beside it,
    and whether this call built.
    """
    for need in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "build.sbt")):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} is missing: run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    stamp = source_stamp()
    built = False
    if not (all(os.path.exists(p) for p in (STAMP, CLASSPATH, JVM_OPTIONS))
            and read_lines(STAMP) == [stamp]):
        os.makedirs(TARGET, exist_ok=True)
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        opts = env.get("SBT_OPTS", "")
        if "-Dsbt.offline=true" not in opts:
            opts += " -Dsbt.offline=true"
        env["SBT_OPTS"] = opts.strip()
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
               "compile", "writeRuntime"]
        code, _ = run_bounded(cmd, BENCH, env, os.path.join(TARGET, "build.log"), BUILD_LIMIT_S)
        if code != 0:
            fail(f"build failed (see {os.path.relpath(TARGET, ROOT)}/build.log)")
        with open(STAMP, "w") as f:
            f.write(stamp + "\n")
        built = True
    cp = "".join(read_lines(CLASSPATH))
    if ".jar" not in cp:
        fail("the build wrote no runtime classpath")
    return cp, read_lines(JVM_OPTIONS), built


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    start = time.monotonic()

    cp, jvm_options, built = build()
    work = os.path.join(TARGET, "work")
    records = os.path.join(TARGET, "records")
    # Identical start state: nothing survives from an earlier run.
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "stagecache", "stream", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    os.makedirs(records, exist_ok=True)

    env = dict(os.environ)
    env["SPARK_GRAFT_STAGECACHE"] = os.path.join(work, "stagecache")
    env["SPARK_GRAFT_STREAM_SCRATCH"] = os.path.join(work, "stream")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC"] + jvm_options +
           [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={os.path.join(work, 'tmp')}",
            "-cp", cp, "etlbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", work, "--records", records, "--cores", str(cores)])
    log_path = os.path.join(records, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    if os.path.exists(log_path):
        os.remove(log_path)
    limit = RUN_LIMIT_S if built else RUN_LIMIT_S - (time.monotonic() - start)
    code, out = run_bounded(cmd, ROOT, env, log_path, limit, stdout=subprocess.PIPE)
    if code is None:
        fail(f"run exceeded {limit:.0f} s and was stopped (log: {os.path.relpath(log_path, ROOT)})")
    lines = [ln for ln in out.decode(errors="replace").splitlines() if ln.strip()]
    if code != 0 or not lines:
        fail(f"run failed with exit code {code} (log: {os.path.relpath(log_path, ROOT)})")
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
