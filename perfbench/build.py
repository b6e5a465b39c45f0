#!/usr/bin/env python3
"""Builds the engine and the benchmark's JVM driver from source.

Compiles every Scala file of the engine (src/main/scala) together with
perfbench/src in one scalac pass against the Spark installation's jars,
with no build server left running. The classes land in
.perfbench/classes-<hash of the sources>, so an unchanged tree is built
once. Prints the runtime classpath.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")


def spark_jars():
    """The jars directory of the Spark installation: $SPARK_HOME, else the
    one whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        sys.exit("perfbench: no Spark installation found (set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        sys.exit("perfbench: no engine sources under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        sys.exit("perfbench: no java found")
    return exe


def ensure():
    """Compiles if needed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    classes = os.path.join(OUT, f"classes-{h.hexdigest()[:16]}")
    if not os.path.exists(os.path.join(classes, ".done")):
        tmp = f"{classes}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(tmp, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            sys.stderr.write(r.stdout[-4000:])
            sys.exit("perfbench: compilation failed")
        os.remove(argfile)
        open(os.path.join(tmp, ".done"), "w").close()
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
    resources = os.path.join(ROOT, "src", "main", "resources")
    return os.pathsep.join([classes, resources, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(ensure())
