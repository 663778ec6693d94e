#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the engine (`src/main/scala`) together with the benchmark's own
sources (`perfbench/src/main/scala`, plus `perfbench/src/test/scala` for
the self-tests) into one class directory, with the Scala 2.13 compiler
that ships inside the Spark distribution (`$SPARK_HOME/jars`). No sbt,
no network: the class directory is rebuilt only when a source changed.

    python3 perfbench/build.py            # build if stale, print class dir
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.sha256")
SOURCE_ROOTS = ["src/main/scala", "perfbench/src/main/scala",
                "perfbench/src/test/scala"]
# data-source registration (`format("graft")`) and other class-path files
RESOURCES = "src/main/resources"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("build: no Spark distribution found "
                         "(set SPARK_HOME or put spark-submit on PATH)")
    return jars


def sources():
    found = []
    for root in SOURCE_ROOTS:
        for d, _, files in os.walk(os.path.join(ROOT, root)):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    for d, _, files in os.walk(os.path.join(ROOT, RESOURCES)):
        found += [os.path.join(d, f) for f in files]
    found.sort()
    engine = [f for f in found if f.startswith(os.path.join(ROOT, "src/main/"))]
    bench = [f for f in found if f not in engine]
    if not engine or not bench:
        raise SystemExit("build: engine or benchmark sources missing "
                         "(run from the repository root)")
    return found


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Return the class directory, compiling first if any source changed."""
    files = sources()
    want = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    res_root = os.path.join(ROOT, RESOURCES)
    for f in files:
        if f.startswith(res_root + os.sep):
            dst = os.path.join(CLASSES, os.path.relpath(f, res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f for f in files if f.endswith(".scala")) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", CLASSES, "@" + argfile]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit("build: scalac failed")
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return CLASSES


if __name__ == "__main__":
    print(build())
