#!/usr/bin/env python3
"""Run one workload of the serving benchmark.

    python3 servebench/run.py --workload serve_read --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. On first use, or when a source file
changed, it compiles the program and the benchmark from that checkout with
the Scala compiler of the Spark distribution; then it starts one JVM for
the run and relays its stdout, whose last line is the result JSON. Build outputs, logs, traces and the run's
collections stay under .bench_build/servebench/ in the checkout; the run's
collections are deleted when it ends. Exits non-zero when the build or the
run fails or a correctness check fails.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "servebench")
WORKLOADS = ("serve_read", "read_wal_tail")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these, as in the program's
# own build.
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def sources():
    """Every Scala source the build compiles: the program's and the
    benchmark's."""
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src", "main", "scala")):
        for dirpath, dirs, files in os.walk(base):
            dirs.sort()
            out += [os.path.join(dirpath, f) for f in sorted(files)
                    if f.endswith(".scala")]
    return out


def program_build():
    """The jar directory and the Scala version the program's build.sbt
    declares (`unmanagedBase`, `scalaVersion`)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        text = f.read()
    jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', text)
    if not jars or not version:
        sys.exit("servebench: the program's build.sbt names no unmanagedBase "
                 "or scalaVersion")
    return jars.group(1), version.group(1)


def sources_stamp(srcs, compiler):
    """Content hash of everything the build reads from the checkout."""
    h = hashlib.sha256(compiler.encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and kills the whole group if it
    outlives `timeout` seconds or this script is told to stop."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def kill():
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def stop(signum, _frame):
        kill()
        # not p.wait(): the interrupted main thread may hold its lock
        try:
            os.waitpid(p.pid, 0)
        except ChildProcessError:
            pass
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    timer = threading.Timer(timeout, kill)
    timer.daemon = True
    timer.start()
    return p, timer


def build():
    """Returns the runtime classpath, compiling first if sources changed.

    The program depends on nothing but the Spark distribution's jars (its
    build.sbt takes them as unmanaged jars), and that distribution ships
    the Scala compiler of the program's Scala version. So the build is one
    scalac run over the program's and the benchmark's sources, with no
    build tool, no dependency resolution and nothing read or written
    outside the checkout but those jars.
    """
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"servebench: no program at {ROOT} (missing {need})")
    jar_dir, scala = program_build()
    compiler = os.path.join(jar_dir, f"scala-compiler-{scala}.jar")
    if not os.path.exists(compiler):
        sys.exit(f"servebench: no {compiler}")
    os.makedirs(BUILD, exist_ok=True)
    classes = os.path.join(BUILD, "classes")
    jars = os.path.join(jar_dir, "*")
    cp = os.pathsep.join([classes, jars])
    srcs = sources()
    stamp = sources_stamp(srcs, compiler)
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(stamp_file) and os.path.isdir(classes):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return cp
    fresh = classes + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    log_path = os.path.join(BUILD, "build.log")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log_path, "w") as log:
        p, timer = run_group(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", "-cp", jars, "scala.tools.nsc.Main",
             "-nowarn", "-classpath", jars, "-d", fresh, f"@{args_file}"],
            BUILD_TIMEOUT_S, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
        code = p.wait()
        timer.cancel()
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write("\n".join(f.read().splitlines()[-40:]) + "\n")
        sys.exit(f"servebench: build failed (exit {code}), log in {log_path}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--spans", default="on", choices=("on", "off"),
                    help="with --trace 1, 'off' runs the in-process window "
                         "without spans, to measure the tracing overhead")
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    cp = build()
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "runs", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(BUILD, "logs", f"{name}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    # A run lasts about a minute, which the JIT's optimising tier does not
    # outlast: its compiles would still be competing with the program for
    # the cores when the run ends. The first tier alone compiles early and
    # cheaply, so the run is shorter and its figures steadier.
    cmd = (["java", *ADD_OPENS, "-Xmx3g", "-XX:+UseG1GC",
            "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
            "-XX:TieredStopAtLevel=1",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp,
            "servebench.ServeBench",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--spans", a.spans, "--work", work,
            "--out", os.path.join(BUILD, "traces")])
    last = ""
    try:
        with open(log_path, "w") as log:
            p, timer = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                                 stdout=subprocess.PIPE, stderr=log,
                                 stdin=subprocess.DEVNULL, text=True)
            for line in p.stdout:
                if line.startswith("{"):
                    last = line.strip()
                else:
                    sys.stdout.write(line)
                    sys.stdout.flush()
            code = p.wait()
            timer.cancel()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not last:
        with open(log_path) as f:
            tail = f.read().splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        if last:
            print(last)
        sys.exit(f"servebench: run failed (exit {code}), log in {log_path}")
    print(last)


if __name__ == "__main__":
    main()
