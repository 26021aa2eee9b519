#!/usr/bin/env python3
"""Builds the engine and the benchmark driver from source.

Compiles the engine (`src/main/scala` at the repository root) together with
the benchmark's own Scala sources (`perfbench/src`) with the Scala compiler
that ships in Spark's jar directory, into `perfbench/.build/classes`. The
build is skipped when a stamp of the sources' digest matches.

Usage: build.py   (prints the classes directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine + bench


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure():
    files = sources()
    stamp = os.path.join(OUT, "stamp")
    want = digest(files)
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == want:
        return CLASSES
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise SystemExit(f"build: Scala compiler jars not found in {jars}")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-cp", os.path.join(jars, "*")] + files
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(OUT, ignore_errors=True)
        raise SystemExit("build: compilation failed")
    with open(stamp, "w") as fh:
        fh.write(want)
    return CLASSES


if __name__ == "__main__":
    print(ensure())
