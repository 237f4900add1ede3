#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt depends on the root
build) into .bench_build/; later runs reuse that build while the sources
are unchanged. Each run starts one JVM at local[N], N = the CPUs this
process may use, and deletes its scratch files when it ends.

Exit status: 0 when every output check passed, 1 when a check failed or
the run did not produce a result, 2 when the program's sources are not
there to build.
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

WORKLOADS = ("erase_many_objects", "erase_big_queue", "curate_text")
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 880

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, subdirs, names in os.walk(top):
            subdirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, limit_s, env=None, stdout=None):
    """Run cmd in its own process group; kill the group at the limit."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=sys.stderr, start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, limit_s))
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(deadline):
    """Build once per source state; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    fp = fingerprint()
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            saved = json.load(fh)
        if saved.get("fingerprint") == fp:
            return saved["classpath"], False
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        BENCH, deadline - time.time(), env=env, stdout=subprocess.PIPE)
    if code != 0:
        fail("build failed" if code is not None else "build timed out")
    # `export` prints the classpath as one plain line
    found = [l.strip() for l in out.splitlines()
             if "perfbench" in l and "classes" in l and not l.startswith("[")]
    if not found:
        fail("could not read the classpath from sbt")
    classpath = found[-1]
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": classpath}, fh)
    return classpath, True


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are "
             "missing: run from a full checkout", code=2)
    classpath, built = build(start + BUILD_LIMIT_S)
    deadline = start + (BUILD_LIMIT_S if built else RUN_LIMIT_S)

    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()
    work = os.path.join(BUILD, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # compiler threads that live as long as the JVM (Stats.workCpuNs)
    cmd += ["-XX:-UseDynamicNumberOfCompilerThreads"]
    # a fixed heap: no run's timings depend on when the heap grew
    cmd += ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--work", work,
            "--digests", os.path.join(BENCH, "curate_digests.txt"),
            "--traces", os.path.join(BUILD, "traces")]
    try:
        code, out = run_bounded(cmd, ROOT, deadline - time.time(),
                                stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail("the run did not finish in time")
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or \
            set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"no result line (exit {code})")
    for l in lines:
        print(l)
    sys.stdout.flush()
    if code != 0 or not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
