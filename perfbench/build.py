#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the library (`src/main/scala`) and the benchmark sources
(`perfbench/src`) in one pass with the Scala compiler that ships in Spark's
jars (`$SPARK_HOME/jars`), into `perfbench/.build/classes`. The build is
skipped when a stamp of every source file still matches.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIBRARY = os.path.join(ROOT, "src", "main", "scala")
BENCH = os.path.join(HERE, "src")
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("SPARK_HOME must point at a Spark 4 installation with a jars/ directory")
    return os.path.join(home, "jars")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.exists(exe) else "java"


def sources():
    if not os.path.isdir(LIBRARY):
        raise BuildError(f"library sources not found at {os.path.relpath(LIBRARY, ROOT)}")
    found = []
    for base in (LIBRARY, BENCH):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def ensure_built():
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return CLASSES
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(os.path.join(OUT, "tmp"))
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(OUT, "tmp"),
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", CLASSES, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(OUT, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return CLASSES


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
