#!/usr/bin/env python3
"""Build the program and the benchmark harness into <root>/.bench_build.

Usage: python3 perfbench/build.py   (from the repository root)

Compiles src/main/scala plus perfbench/harness with the Scala 2.13 compiler
that ships in the Spark distribution's jars directory ($SPARK_HOME/jars, or
the distribution that holds the spark-submit on PATH) and copies
src/main/resources next to the classes. A stamp of the sources' hash skips
the compile when nothing changed. Exits non-zero when the sources or the
toolchain are missing. scalac runs from inside the output directory, so the
repository root never lands on its default classpath.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
CLASSES = os.path.join(OUT, "classes")


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""


SPARK_JARS = os.path.join(spark_home(), "jars")
SOURCE_DIRS = ["src/main/scala", "perfbench/harness"]
RESOURCES = "src/main/resources"


def sources():
    found = []
    for d in SOURCE_DIRS:
        full = os.path.join(ROOT, d)
        if not os.path.isdir(full):
            raise SystemExit(f"build: missing source directory {d}")
        for base, _, files in os.walk(full):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    if os.path.isdir(os.path.join(ROOT, RESOURCES)):
        for base, _, files in sorted(os.walk(os.path.join(ROOT, RESOURCES))):
            for f in sorted(files):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*")


def build():
    srcs = sources()
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"build: no Spark jars at {SPARK_JARS}")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = os.path.join(OUT, "build.stamp")
        want = digest(srcs)
        if os.path.exists(stamp) and open(stamp).read() == want:
            return
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.makedirs(CLASSES)
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=OUT)
        if r.returncode != 0:
            raise SystemExit(f"build: scalac exited {r.returncode}")
        res = os.path.join(ROOT, RESOURCES)
        if os.path.isdir(res):
            shutil.copytree(res, CLASSES, dirs_exist_ok=True)
        with open(stamp, "w") as f:
            f.write(want)


if __name__ == "__main__":
    build()
