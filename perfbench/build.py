#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala` of the
checkout) together with the benchmark's JVM harness (`perfbench/src`) into
`.bench_build/classes`, with the Scala compiler that ships in Spark's jars.

The build is skipped when a stamp of every source file's path and bytes
matches the last successful build. Prints the runtime classpath.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"missing source directory {os.path.relpath(r, ROOT)}")
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compiles if needed; returns the runtime classpath."""
    jars = os.path.join(spark_jars(), "*")
    classes = os.path.join(BUILD, "classes")
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == h.hexdigest():
        return os.pathsep.join([classes, jars])
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-classpath", jars, "-d", classes] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    with open(stamp_file, "w") as f:
        f.write(h.hexdigest())
    return os.pathsep.join([classes, jars])


if __name__ == "__main__":
    print(build())
