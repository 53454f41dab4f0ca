#!/usr/bin/env python3
"""Runs one workload of the medallion-pipeline benchmark.

    python3 medbench/run.py --workload daily_incremental --seed 1 --seconds 15 --trace 0

Builds the benchmark with sbt first when the build is missing or older than
any source (the benchmark's own or the program's under ../src/main), then
runs medbench.Main in a fresh JVM. The last line of standard output is the
result JSON; on any failure nothing is printed there and the exit code is 1
(2 when the program's sources are not next to the benchmark).
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
PROGRAM = os.path.join(REPO, "src", "main", "scala", "graft", "pipeline", "Pipeline.scala")
STAMP = os.path.join(BENCH, "target", "classpath.txt")
WORKLOADS = ("daily_incremental", "bulk_backfill", "analyst_reads")
# Spark on JDK 17 outside spark-submit needs these (as in the program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
BUILD_SECONDS = 880   # the first run in a checkout builds
RUN_SECONDS = 175     # every other run


def log(msg):
    print(f"[medbench] {msg}", file=sys.stderr, flush=True)


def newest_source():
    newest = 0.0
    roots = [os.path.join(BENCH, "src"), os.path.join(REPO, "src", "main"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        if os.path.isfile(root):
            newest = max(newest, os.path.getmtime(root))
        for d, _, files in os.walk(root):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build(timeout):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(BENCH, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = env.get("SBT_OPTS", "").split() or ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + [f"-Djava.io.tmpdir={tmp}"])
    log("building (sbt)")
    code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                          timeout, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or os.path.join(BENCH, "target") not in lines[-1]:
        sys.stderr.write(out)
        raise RuntimeError(f"build failed (exit {code})")
    with open(STAMP, "w") as f:
        f.write(lines[-1].strip())


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(PROGRAM):
        log(f"the program's sources are missing: {os.path.relpath(PROGRAM, REPO)}")
        return 2
    start = time.monotonic()
    limit = RUN_SECONDS
    if not os.path.isfile(STAMP) or os.path.getmtime(STAMP) < newest_source():
        limit = BUILD_SECONDS
        build(limit)
    with open(STAMP) as f:
        classpath = f.read().strip()

    work = os.path.join(BENCH, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms256m", "-Xmx1g", f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "medbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--out", os.path.join(BENCH, "out")]
    try:
        code, out = run_group(cmd, max(10.0, limit - (time.monotonic() - start)),
                              stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        log(f"benchmark failed (exit {code})")
        return 1
    print("\n".join(lines), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # a failed build or a timeout: no result line
        log(f"error: {e}")
        sys.exit(1)
