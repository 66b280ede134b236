#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the benchmark's own Scala sources (perfbench/scala) into
.bench_build/classes, with the Scala compiler that ships in Spark's jar
directory ($SPARK_HOME/jars, or build.sbt's `unmanagedBase`: the jars the
sbt build compiles against).

The build is skipped when a stamp of every source file's content matches
the last build. Run from the repository root:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")


def jar_dir():
    """$SPARK_HOME/jars, else the `unmanagedBase` jar directory of build.sbt."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    m = re.search(r'unmanagedBase := file\("([^"]+)"\)', open("build.sbt").read())
    if not m:
        raise SystemExit("build: Spark jars not found: set SPARK_HOME")
    return m.group(1)


def spark_jars():
    jars = sorted(glob.glob(os.path.join(jar_dir(), "*.jar")))
    if not jars:
        raise SystemExit(f"build: no Spark jars under {jar_dir()}")
    return jars


def sources():
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not srcs:
        raise SystemExit("build: graft sources (src/main/scala) not found; "
                         "run from the repository root")
    return srcs + sorted(glob.glob("perfbench/scala/*.scala"))


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return CLASSES
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise SystemExit("build: scala-compiler/library/reflect jars not found")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", ":".join(jars)] + srcs
    r = subprocess.run(cmd)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited with {r.returncode}")
    with open(STAMP, "w") as f:
        f.write(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build())
    sys.exit(0)
