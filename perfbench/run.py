#!/usr/bin/env python3
"""Forecast-serving and fit benchmark for the graft engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload serve_hit --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark from source with sbt on first use (or
when a source file is newer than the last build), then runs one workload in
a fresh JVM. All inputs, stores and scratch files live under
perfbench/work/. The last line of standard output is the result object
`{"correct", "attempted", "failed", "metrics"}`; the line before it is a
detail object with the workload's own figures.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAUNCH = os.path.join(HERE, "target", "launch.txt")
WORKLOADS = ("serve_hit", "serve_churn", "fit_batch")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # with RUN_TIMEOUT_S, a first run that builds ends within 900 s
HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in a process group of its own and return (exit code, stdout),
    or None on timeout. Whatever way this script leaves (timeout, SIGTERM,
    an exception), the whole group is killed and reaped first."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def newest_source_mtime():
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(base):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources next to the benchmark (expected ../build.sbt and ../src/main/scala/graft)")
    if os.path.isfile(LAUNCH) and os.path.getmtime(LAUNCH) >= newest_source_mtime():
        return
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    t0 = time.time()
    tmp = os.path.join(HERE, "target", "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    # No JVM started for the build writes its perf-data file outside the
    # checkout. sbt binds a Unix socket under $XDG_RUNTIME_DIR; a socket
    # path may not exceed 107 bytes, so it is given relative to the build
    # directory and stays short however deep the checkout lies.
    env = dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
               XDG_RUNTIME_DIR=os.path.join("target", "run"))
    # the launcher's lock, the Ivy lock and JNA's native library stay in the checkout too
    done = run_child([sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                      "-Dsbt.boot.lock=false", f"-Dsbt.ivy.home={os.path.join(HERE, 'target', 'ivy')}",
                      f"-Djna.tmpdir={tmp}", f"-Djava.io.tmpdir={tmp}", "perfbench/launchSpec"],
                     BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if done is None:
        fail(f"build exceeded {BUILD_TIMEOUT_S} s")
    if done[0] != 0 or not os.path.isfile(LAUNCH):
        fail(f"build failed (exit {done[0]})")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    # a terminated run still stops its build or JVM (see run_child)
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))

    build()
    with open(LAUNCH) as f:
        lines = [line.rstrip("\n") for line in f if line.strip()]
    classpath, jvm_opts = lines[0], lines[1:]

    work = os.path.join(HERE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "store"):
        os.makedirs(os.path.join(work, d))
    env = dict(os.environ)
    env["SPARK_GRAFT_STORE_DIR"] = os.path.join(work, "store")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    n = cores()
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}", *jvm_opts,
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", args.trace, "--cores", str(n), "--work", "."]
    # The JVM runs in `work` and is given paths relative to it: the engine
    # names each corpus's mirror directory after the corpus path, and an
    # absolute path in a deep checkout would exceed the file-name limit.
    done = run_child(cmd, RUN_TIMEOUT_S, cwd=work, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                     text=True)
    if done is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    code, out = done
    lines = [line for line in out.splitlines() if line.strip()]
    if code != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        fail(f"benchmark exited with {code} and no result")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
