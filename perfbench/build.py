#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala and src/main/resources of the repository) together with
the benchmark's own sources (perfbench/src) into perfbench/build/classes.

It uses the Scala compiler that ships in the Spark distribution's jars
directory, so no build tool or network is needed. The build is skipped when
the sources and the jar set are unchanged since the last one.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, "build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(CLASSES, ".stamp")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jars of the
    pyspark package, else the directory of spark-submit on PATH."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark  # noqa: F401  (only its location is used)
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and glob.glob(os.path.join(c, "spark-core_*.jar")):
            return c
    raise BuildError("no Spark jars directory with a Scala compiler found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(MAIN_SRC):
        raise BuildError(f"program sources missing: {os.path.relpath(MAIN_SRC, ROOT)}")
    srcs = []
    for base in (MAIN_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            srcs += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(srcs)


def resources():
    out = []
    for d, _, files in os.walk(MAIN_RES):
        out += [os.path.join(d, f) for f in files]
    return sorted(out)


def fingerprint(srcs, res, jars):
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build(quiet=False):
    """Compile if needed; returns the runtime classpath."""
    jars = spark_jars()
    srcs, res = sources(), resources()
    fp = fingerprint(srcs, res, jars)
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(STAMP) and open(STAMP).read() == fp:
        return classpath
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-d", tmp, "-classpath", os.path.join(jars, "*")] + srcs
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed:\n" + proc.stdout[-8000:])
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, MAIN_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(fp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    if not quiet:
        print(f"built {len(srcs)} sources into {os.path.relpath(CLASSES, ROOT)}", file=sys.stderr)
    return classpath


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(1)
