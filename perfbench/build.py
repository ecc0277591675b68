#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's library sources
(src/main/scala) together with the benchmark harness (perfbench/scala) with
the Scala compiler that ships in the Spark distribution, into
.bench_build/classes. No sbt, so a build reads only the toolchain and writes
only inside the checkout. A stamp of the source contents skips rebuilds.

Usage: python3 perfbench/build.py   (from the checkout root)
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def sources():
    found = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def spark_jars_dir():
    """$SPARK_HOME/jars, else the directory build.sbt takes Spark's jars from."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase for Spark's jars")
    return m.group(1)


def spark_classpath():
    return sorted(glob.glob(os.path.join(spark_jars_dir(), "*.jar")))


def compiler_jars(jars):
    picked = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(picked) != 3:
        raise SystemExit("perfbench: Scala compiler jars not found among Spark's jars")
    return picked


def build():
    """Compile if the sources changed; return the run-time classpath."""
    srcs = sources()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or not srcs:
        raise SystemExit("perfbench: graft sources (src/main/scala) not found")
    jars = spark_classpath()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, "STAMP")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        tmp = CLASSES + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        args_file = os.path.join(BUILD, "scalac.args")
        with open(args_file, "w") as f:
            f.write("\n".join(srcs))
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler_jars(jars)),
               "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
               "-classpath", os.pathsep.join(jars), "@" + args_file]
        r = subprocess.run(cmd, stdout=sys.stderr)
        if r.returncode != 0:
            raise SystemExit("perfbench: compile failed")
        with open(os.path.join(tmp, "STAMP"), "w") as f:
            f.write(stamp)
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.rename(tmp, CLASSES)
    return os.pathsep.join([CLASSES] + jars)


if __name__ == "__main__":
    build()
