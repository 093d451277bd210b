#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the program (src/main/scala) together with the harness sources in
perfbench/harness into one class directory, with the Scala compiler that
ships in the Spark distribution, against the Spark jars. The build is
skipped when a stamp of every source file's content is unchanged.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "harness")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the directory the program's own
    build.sbt names as its `unmanagedBase`."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("no SPARK_HOME and no unmanagedBase in build.sbt")
    return os.path.join(m.group(1), "*")


def classpath():
    return CLASSES + os.pathsep + spark_jars()


def sources():
    found = []
    for top in (PROGRAM_SRC, HARNESS_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compiles when the sources changed; returns the seconds spent."""
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"program sources not found under {PROGRAM_SRC}")
    files = sources()
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return 0.0
    t0 = time.time()
    # compile into a fresh directory and swap it in, so a failed or
    # interrupted build never leaves a half-written class directory
    fresh = CLASSES + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", fresh, "-classpath", spark_jars()] + files
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"compile failed (exit {r.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(fresh, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want)
    return time.time() - t0


if __name__ == "__main__":
    print(f"built in {build():.1f}s")
