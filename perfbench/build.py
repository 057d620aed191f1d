#!/usr/bin/env python3
"""Compile the engine (src/main) and the benchmark (perfbench/src) into one
class directory, with the Scala compiler that ships in the Spark jars.

    python3 perfbench/build.py          # prints the class directory

The repository's sbt build is not used or changed. Output goes to
.bench_build/classes under the checkout root; a fingerprint of the sources
skips the compile when nothing changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    """$SPARK_HOME/jars, or the jars of the first Spark distribution on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("build: no Spark jars found (set SPARK_HOME)")


def jars(d):
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar"))


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def fingerprint(srcs, jar_list):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(os.path.basename(j) for j in jar_list).encode())
    return h.hexdigest()


def build():
    jdir = spark_jars()
    jar_list = jars(jdir)
    srcs = sources()
    fp = fingerprint(srcs, jar_list)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == fp:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = [j for j in jar_list if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", ":".join(jar_list), "-d", CLASSES, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac exited {r.returncode}")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(fp)
    return CLASSES


if __name__ == "__main__":
    print(build())
