#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload flood_day --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run compiles the library sources
(src/main/scala) together with the benchmark's own Scala sources
(perfbench/src) with the Scala compiler that ships in Spark's jar
directory into a jar under $CARGO_TARGET_DIR (default .bench_build); later
runs reuse it while the sources are unchanged. The first run after a build
also dumps the classes it loaded into a class-data-sharing archive that
later runs map, which shortens JVM and Spark start-up; the timed phases
run after warm-up, when every class they use is loaded either way. The run
itself is one JVM: it generates the seeded inputs, measures, checks every
output and prints one JSON object. `--size tiny` shrinks every input for
the self-check.
"""
import argparse
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
LIB_SRC = os.path.join("src", "main", "scala")
WORKLOADS = ("flood_day", "curate_corpus")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 outside spark-submit needs these (the set
# org.apache.spark.launcher.JavaModuleOptions lists).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        fail("no Spark jar directory (set SPARK_HOME)")
    return m.group(1)


def sources():
    out = []
    for root in (LIB_SRC, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(build_dir, jars):
    """Compile when the sources changed since the last build; returns the jar."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(build_dir, "classes.stamp")
    # a jar, because class-data sharing maps classes from jars only
    jar = os.path.join(build_dir, "perfbench.jar")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() and os.path.exists(jar):
        return jar
    for f in (stamp, jar, archive(build_dir)):
        if os.path.exists(f):
            os.remove(f)
    tmp = os.path.join(build_dir, "perfbench-partial.jar")
    cp = os.path.join(jars, "*")
    args_file = os.path.join(build_dir, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp, "@" + args_file]
    r = subprocess.run(cmd, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("compilation failed")
    os.rename(tmp, jar)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return jar


def archive(build_dir):
    return os.path.join(build_dir, "classes.jsa")


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--size", default="full", choices=("full", "tiny"))
    p.add_argument("--record", help="print digests for seeds A..B instead of measuring")
    a = p.parse_args()
    if not os.path.isdir(LIB_SRC):
        fail(f"no library sources at {LIB_SRC}: run from the repository root")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars()
    jar = build(build_dir, jars)
    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap keeps peak RSS from tracking heap-resizing decisions
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           # The JIT compiles a method after 0.3 of the default invocation
           # counts. With the defaults, on a 4-vCPU VM, the days of a run's
           # first three rounds still got 10-35 % faster from one round to
           # the next; with 0.3 the second round is as fast as the third.
           # The timed code is C2-compiled either way.
           "-XX:CompileThresholdScaling=0.3"]
    jsa = archive(build_dir)
    dump = jsa + ".tmp"
    if os.path.exists(jsa):
        cmd.append("-XX:SharedArchiveFile=" + jsa)
    else:
        cmd.append("-XX:ArchiveClassesAtExit=" + dump)
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", jar + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--size", a.size]
    if a.record:
        cmd += ["--record", a.record]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=None if a.record else RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(dump):
            os.remove(dump)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(dump):
        if proc.returncode == 0:
            os.rename(dump, jsa)
        else:
            os.remove(dump)
    lines = [l for l in out.splitlines() if l.strip()]
    if a.record:
        print("\n".join(lines))
        sys.exit(proc.returncode)
    if not lines or not lines[-1].startswith("{"):
        fail(f"no result line (exit {proc.returncode})")
    print(lines[-1])
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
