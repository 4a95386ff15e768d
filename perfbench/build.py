#!/usr/bin/env python3
"""Build file of the benchmark.

    python3 perfbench/build.py

Compiles the engine (src/main/scala) and the harness (perfbench/scala) in
one scalac run, using the compiler and the jars of the local Spark
distribution, into .bench_build/perfbench/classes. The class directory
carries a stamp of its sources; run.py calls build() before every run, and
it compiles again only when a source file changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_home():
    """$SPARK_HOME, else the Spark whose bin/spark-submit is on the PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.exists(os.path.join(d, "spark-submit")) and \
                os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


SPARK_JARS = os.path.join(spark_home(), "jars")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "scala")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    return sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                  + glob.glob(os.path.join(HARNESS_SRC, "**", "*.scala"), recursive=True))


def spark_jars():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        fail(f"no Spark jars under {SPARK_JARS}: set SPARK_HOME")
    return jars


def build():
    """Compile the engine and the harness; returns the class directory."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources (src/main/scala/graft) not found: run from the repository root")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    res = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
         "-classpath", os.pathsep.join(jars)] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if res.returncode != 0:
        print(res.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
