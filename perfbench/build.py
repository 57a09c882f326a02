#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) together
with the benchmark's own sources (perfbench/src) into BUILD_DIR/classes with
the Scala compiler that ships in the Spark distribution's jars, so the build
needs no dependency resolution.

The build is skipped when a stamp over every source file and the jar list
matches the last successful build. Run from the root of a checkout:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    jars bundled with an installed pyspark."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for d in cands:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if any("scala-compiler" in os.path.basename(j) for j in jars):
            return jars
    raise SystemExit("build: no Spark jars with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        raise SystemExit("build: src/main/scala not found — run from the "
                         "root of a full checkout")
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"),
                             recursive=True))
    return main + bench


def build():
    """Compile if needed; return the runtime classpath list."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return [classes] + jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD_DIR, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(jars)
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    rc = subprocess.call(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-classpath", cp, "-d", tmp, "@" + args_file],
        stdout=sys.stderr)
    if rc != 0:
        raise SystemExit(f"build: scalac failed with code {rc}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return [classes] + jars


if __name__ == "__main__":
    os.makedirs(BUILD_DIR, exist_ok=True)
    build()
