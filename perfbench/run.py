#!/usr/bin/env python3
"""Whole-pipeline benchmark of the graft Spark rebuild.

    python3 perfbench/run.py --workload <trade_batch|corpus_curation>
        --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the root of a checkout. The first run compiles the program
(src/main/scala) together with the benchmark (perfbench/src) into
.bench_build/classes with the Scala compiler that ships among Spark's
jars; later runs reuse that build while the sources are unchanged. The
last line of standard output is one JSON object with the keys correct,
attempted, failed and metrics. --trace 1 prints the per-layer metrics
instead of the end-to-end ones and writes the spans under
.bench_build/traces. --smoke runs every workload at a tiny size.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
MAIN_CLASS = "perfbench.Main"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these opens.
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
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not jars:
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def sources():
    out = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found at {os.path.relpath(PROGRAM_SRC, ROOT)}")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(CLASSES, ".stamp")
    digest = h.hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) < 3:
        fail("the Scala compiler jars are missing from Spark's jars")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-Ybackend-parallelism", "4", "-classpath", os.pathsep.join(jars),
           "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("compilation failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(digest)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)


def main(argv):
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    build(jars)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # fixed heap and few JIT/GC threads: less run-to-run variation
    cmd = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:CICompilerCount=2",
            "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([CLASSES] + jars), MAIN_CLASS] + argv)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        fail(f"run failed (exit {proc.returncode})")
    print(lines[-1])


if __name__ == "__main__":
    main(sys.argv[1:])
