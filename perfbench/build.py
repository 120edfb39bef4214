#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's main sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/classes with the Scala compiler shipped in the Spark
distribution, the same jars the engine's sbt build compiles against.

A build is skipped when a stamp over every source file and the jar list is
unchanged.

    python3 perfbench/build.py          # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    jars bundled with the pyspark package."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for d in cands:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")) and \
                glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    raise SystemExit("perfbench: no Spark distribution with a Scala compiler "
                     "found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit("perfbench: engine sources src/main/scala/graft not "
                         "found; run from the repository root")
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for dirpath, _, files in os.walk(base):
            found += [os.path.join(dirpath, f) for f in files
                      if f.endswith((".scala", ".java"))]
    return sorted(found)


def stamp(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build():
    """Compiles if needed; returns the run classpath."""
    jars = spark_jars()
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    srcs = sources()
    want = stamp(srcs, jars)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


if __name__ == "__main__":
    print(build())
