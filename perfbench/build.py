#!/usr/bin/env python3
"""Build file of the CC benchmark.

Compiles the engine (src/main/scala) together with the benchmark's own
Scala sources (perfbench/src) with the Scala compiler that ships in the
Spark distribution, into `.bench_build/classes-<hash>` at the root of the
checkout. The hash covers every source file's path and bytes, so an
unchanged tree is never rebuilt and a changed one never reuses stale
classes.

    python3 perfbench/build.py          # prints the class directory
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


class BuildError(Exception):
    pass


def spark_jar_dirs():
    """Candidate Spark jar directories: $SPARK_HOME/jars, the directory the
    engine's build.sbt compiles against (`unmanagedBase`), and the jars of
    the spark-submit on PATH."""
    if os.environ.get("SPARK_HOME"):
        yield os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            yield m.group(1)
    except OSError:
        pass
    submit = shutil.which("spark-submit")
    if submit:
        yield os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars")


def spark_classpath():
    for d in spark_jar_dirs():
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if any(os.path.basename(j).startswith("scala-compiler") for j in jars):
            return os.pathsep.join(jars)
    raise BuildError("no Spark distribution with a Scala compiler: set SPARK_HOME")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError("src/main/scala holds no sources: not a checkout of the engine")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine + bench


def build():
    """Returns the class directory, compiling it first if it is missing."""
    srcs = sources()
    cp = spark_classpath()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(cp.encode())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
