#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's main sources
(src/main/scala) together with the benchmark's own sources
(perfbench/src) with the Scala 2.13 compiler that ships in Spark's jars
directory, into <build dir>/classes. sbt is not involved.

Usage: python3 perfbench/build.py [build_dir]

Spark's jars directory is $SPARK_HOME/jars, or else the `unmanagedBase`
that build.sbt names. The build is skipped when the recorded digest of
every source file still matches. Exits non-zero when the engine's
sources are missing or the compiler fails.
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


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            return re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read()).group(1)
    except (OSError, AttributeError):
        raise SystemExit("build: no SPARK_HOME and no unmanagedBase in build.sbt")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return prog, own


def build(out=None, log=sys.stderr):
    """Returns the classes directory, building it first when stale."""
    out = out or build_dir()
    prog, own = sources()
    if not prog:
        raise SystemExit("build: no engine sources under src/main/scala")
    jars = spark_jars()
    h = hashlib.sha256()
    for p in prog + own:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.digest")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = os.pathsep.join(os.path.join(jars, j) for j in (
        "scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar", "scala-reflect-2.13.17.jar"))
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(prog + own))
    print(f"build: compiling {len(prog)} engine + {len(own)} benchmark sources", file=log, flush=True)
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
         "-d", classes, "-cp", os.path.join(jars, "*"), "@" + argfile],
        stdout=log, stderr=log, timeout=850)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else None))
