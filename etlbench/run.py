#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

Usage (from the repository root):
    python3 etlbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: stream_error_agg, batch_backfill, query_slice (see README.md).
The first run in a checkout builds the program and the benchmark code
from source with sbt (offline); later runs reuse the build as long as no
source file changed. Each run starts one JVM (Spark local mode), waits
for it, and exits non-zero without a result line if the build, the run
or an output check fails.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD, "bench-classpath.txt")
STAMP_FILE = os.path.join(BUILD, "bench-source.sha256")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
QUERY_DATA = os.path.join(HERE, "data", "sf0.1")
WORKLOADS = ("stream_error_agg", "batch_backfill", "query_slice")
BUILD_LIMIT_S = 700
RUN_LIMIT_S = 170
JVM_HEAP = "2g"

# Module opens Spark needs on JDK 17 outside spark-submit (as the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: program sources and ours."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(deadline):
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "benchClasspath"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=max(60, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 3)
    if rc != 0 or not os.path.exists(CLASSPATH_FILE):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed; see {log}", 3)
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", action="store_true",
                    help="query_slice: write golden/query_slice.json instead of checking it")
    a = ap.parse_args()

    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found at {PROGRAM_SRC}")
    if a.workload == "query_slice" and not os.path.isdir(QUERY_DATA):
        fail(f"query data not found at {QUERY_DATA}")
    os.makedirs(WORK, exist_ok=True)
    # runs share the build and the work directory: one at a time
    lock = open(os.path.join(WORK, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    build(time.time() + BUILD_LIMIT_S)
    start = time.time()

    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    with open(CLASSPATH_FILE) as f:
        classpath = f.read().strip()
    # a fixed heap size keeps G1's heap sizing, and with it the GC work
    # of a pass, the same from run to run
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            f"-Dderby.system.home={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.shuffle.partitions=4"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "etlbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", WORK, "--data", QUERY_DATA]
           + (["--record-golden"] if a.record_golden else []))
    log = os.path.join(WORK, f"{a.workload}.log")
    remaining = RUN_LIMIT_S - (time.time() - start)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=remaining)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{a.workload} did not finish in time; see {log}", 4)
    lines = out.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for line in lines[:-1] if result is not None else lines:
        print(line)
    if proc.returncode != 0 or result is None or not result.get("correct"):
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"{a.workload} failed (exit {proc.returncode}); see {log}", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
