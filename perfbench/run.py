#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload scan --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source with sbt (offline) when
the sources changed since the last build, launches one JVM with a fresh
scratch root under .perfbench_runs/, relays its report lines and prints the
result object as the last line of stdout. Exits non-zero, printing no
result, when the build or the run fails.
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
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SOURCES = [os.path.join(ROOT, "src", "main")]
BENCH_SOURCES = [os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "build.sbt"),
                 os.path.join(BENCH, "project", "build.properties")]
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "source.sha256")
RUNS = os.path.join(ROOT, ".perfbench_runs")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # with the run, within a first run's 900 s
HEAP = "2g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_hash():
    """sha256 over the program's and the benchmark's sources."""
    h = hashlib.sha256()
    for top in PROGRAM_SOURCES + BENCH_SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(sha):
    """Compile with sbt (offline) and record the runtime classpath."""
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == sha:
                return
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(TARGET, exist_ok=True)
    log_path = os.path.join(TARGET, "build.log")
    with open(log_path, "w") as log:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                         BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                         stdout=log, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed (rc=%s)" % rc)
    with open(STAMP, "w") as f:
        f.write(sha)


def main():
    # a terminated runner still stops its JVM and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for d in PROGRAM_SOURCES:
        if not os.path.isdir(os.path.join(d, "scala", "graft")):
            fail("program sources not found under " + d)
    sha = source_hash()
    build(sha)
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    # half the cores run Spark tasks; the other half stay free for the driver
    # thread, JIT compilation and GC, which would otherwise preempt the task
    # threads at random (at N = nproc - 1 runs spread about twice as much)
    cores = max(1, min(4, (os.cpu_count() or 1) // 2))
    run_dir = os.path.join(RUNS, "%s-%d-%d-%d" % (args.workload, args.seed, os.getpid(),
                                                  int(time.time() * 1000)))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # a fixed, pre-touched heap keeps the resident-set peak from following GC
    # timing (no hsperfdata file: the JVM writes nothing outside the scratch root)
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
            "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--run-dir", run_dir, "--cores", str(cores), "--source-id", sha[:16]])
    log_path = os.path.join(run_dir, "jvm.log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                                 stdout=subprocess.PIPE, stderr=log, text=True,
                                 start_new_session=True)
            watchdog = threading.Timer(RUN_TIMEOUT_S, os.killpg, (p.pid, signal.SIGKILL))
            watchdog.start()
            try:
                for line in p.stdout:
                    sys.stdout.write(line)
                    sys.stdout.flush()
                rc = p.wait()
            finally:
                watchdog.cancel()
                if p.poll() is None:
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()
        result_path = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            fail("run failed (rc=%s)" % rc)
        with open(result_path) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS)
        except OSError:
            pass
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
