#!/usr/bin/env python3
"""Build graft and the benchmark harness with the Scala compiler that ships
with Spark (no sbt): `python3 graftbench/build.py` from the repository root.

Classes go to .bench_build/classes. The build is skipped when the digest
of every compiled source matches the one recorded by the last build.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "graftbench", "src")
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(CLASSES, ".source-digest")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("graftbench: SPARK_HOME must point at a Spark 4 install with jars/")
    return os.path.join(home, "jars")


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    out = []
    for base in (GRAFT_SRC, BENCH_SRC):
        if not os.path.isdir(base):
            raise SystemExit(f"graftbench: source tree missing: {os.path.relpath(base, ROOT)}")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log=sys.stderr):
    files = sources()
    want = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return want
    jars = spark_jars()
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise SystemExit("graftbench: scala-compiler/library/reflect jars not found in SPARK_HOME/jars")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"graftbench: compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"graftbench: compilation failed (exit {r.returncode})")
    with open(os.path.join(tmp, ".source-digest"), "w") as fh:
        fh.write(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return want


if __name__ == "__main__":
    print(build())
