#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) together with the benchmark's own
sources (`perfbench/src`) into `.bench_build/perfbench/classes`, using the
Scala compiler and Spark jars the engine's build.sbt compiles against
(its `unmanagedBase` directory, or `$SPARK_HOME/jars` when that is set).
A stamp of every source's content skips the compile when nothing changed.

    python3 perfbench/build.py            # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The jar directory build.sbt compiles against (its `unmanagedBase`),
    or `$SPARK_HOME/jars`; it must hold the Scala compiler."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and not os.environ.get("SPARK_HOME"):
            jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Spark jars with a Scala compiler at '{jars}'")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(engine, "graft", "SparkEntry.scala")):
        raise RuntimeError(f"engine sources not found under {engine}")
    found = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def build(log=sys.stderr):
    """Compile if stale; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(" ".join(sorted(os.listdir(jars))).encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    rc = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                         "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", tmp] + srcs,
                        stdout=log, stderr=log, timeout=840).returncode
    if rc != 0:
        raise RuntimeError(f"scalac failed with exit code {rc}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
