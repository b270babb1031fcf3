#!/usr/bin/env python3
"""Benchmark entry point for the graft Spark full-text engine.

Run from the repository root:

    python3 perfbench/run.py --workload service|ingest \
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark program with sbt (once per source
state), runs one workload in a fresh JVM on local[nproc], and leaves
that JVM's result JSON as the last line of standard output. Exits non-zero
on a build failure, a crash, a timeout or a wrong answer.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
TARGET = os.path.join(HERE, "target")
OUT = os.path.join(HERE, "out")
STAMP = os.path.join(TARGET, "perfbench.classpath")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these when a session starts outside spark-submit
# (the same list as the repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(d, f) for d in (ROOT, HERE)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded classpath matches the sources."""
    digest = source_digest()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "compile",
           "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cps = [l.strip() for l in p.stdout.splitlines()
           if l.startswith("/") and ".jar" in l and ":" in l]
    if not cps:
        fail("build printed no classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(f"{digest}\n{cps[-1]}\n")
    return cps[-1]


def jvm_heap():
    """Heap as the tier-1 test command sizes it: half of MemTotal, 2-8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["service", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}")

    cp = build()
    work = os.path.join(OUT, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    # a fixed heap, as the repository's own build pins it, and room for the
    # classes Spark generates per query: a heap that grows, and a metaspace
    # that fills, each do so through full collections, a dozen per run
    heap = jvm_heap()
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # no hsperfdata file in the system temp dir
           + ["-XX:-UsePerfData",
              f"-Xmx{heap}", f"-Xms{heap}", "-XX:MetaspaceSize=512m",
              "-XX:+UseParallelGC",
              f"-XX:ParallelGCThreads={cores}",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", OUT])
    # a terminated benchmark still stops and reaps its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except BaseException:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("run timed out or was interrupted")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"run exited with {proc.returncode}")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
