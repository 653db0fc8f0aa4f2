#!/usr/bin/env python3
"""Builds the benchmark: compiles the engine sources (src/main/scala at the
repository root) together with the benchmark sources (gnnbench/src) into
.bench_build/classes, with the Scala compiler that ships in the Spark
distribution. A build whose sources are unchanged is reused.

Usage: python3 gnnbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


SCALA = "2.13.17"
COMPILER = [f"scala-{m}-{SCALA}.jar" for m in ("compiler", "library", "reflect")]


def spark_jars():
    """The jars of $SPARK_HOME, else of the first Spark installation on PATH
    whose jars include the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and all(os.path.isfile(os.path.join(jars, j)) for j in COMPILER):
            return jars
    raise BuildError("no Spark installation with the Scala compiler: set SPARK_HOME")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise BuildError(f"engine sources not found at {engine}")
    found = []
    for top in (engine, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def ensure():
    """Returns the classes directory, compiling first if sources changed."""
    srcs = sources()
    jars = spark_jars()
    compiler = [os.path.join(jars, j) for j in COMPILER]
    h = hashlib.sha256(SCALA.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(BUILD, "classes")
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"[gnnbench] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return out


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(f"[gnnbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
