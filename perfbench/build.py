#!/usr/bin/env python3
"""Build graft and the benchmark harness without sbt.

javac compiles src/main/java, scalac (the compiler jar that ships in the
Spark distribution) compiles src/main/scala, then perfbench/src/main/scala
against it. Classes go under the build directory ($CARGO_TARGET_DIR, else
.bench_build); a content hash of every source skips a rebuild when nothing
changed.

Usage: python3 perfbench/build.py      (prints the run classpath)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, else the first
    spark-submit on PATH that sits in a distribution with a scalac jar."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark distribution with a scala-compiler jar; set SPARK_HOME")


def sources(*dirs, ext):
    out = []
    for d in dirs:
        out += glob.glob(os.path.join(ROOT, d, "**", "*" + ext), recursive=True)
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run(cmd, log):
    with open(log, "a") as f:
        f.write(" ".join(cmd[:6]) + " ...\n")
        f.flush()
        r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0:
        raise BuildError(f"{cmd[0]} failed ({r.returncode}); see {log}")


def build():
    """Compile if needed; return (classpath, source digest)."""
    java_src = sources("src/main/java", ext=".java")
    scala_src = sources("src/main/scala", ext=".scala")
    bench_src = sources("perfbench/src/main/scala", ext=".scala")
    if not scala_src or not bench_src:
        raise BuildError("no graft sources under src/main/scala: run from the "
                         "root of a graft checkout")
    jars = spark_jars()
    key = digest(java_src + scala_src + bench_src)
    program = os.path.join(BUILD, "classes", "program")
    bench = os.path.join(BUILD, "classes", "bench")
    stamp = os.path.join(BUILD, "classes", "stamp")
    cp = [program, bench, os.path.join(jars, "*")]
    if os.path.exists(stamp) and open(stamp).read() == key:
        return cp, key
    shutil.rmtree(os.path.join(BUILD, "classes"), ignore_errors=True)
    os.makedirs(program)
    os.makedirs(bench)
    log = os.path.join(BUILD, "build.log")
    open(log, "w").close()
    scalac = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
              "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8"]
    if java_src:
        run(["javac", "-nowarn", "-encoding", "UTF-8", "--add-modules",
             "jdk.incubator.vector", "-d", program] + java_src, log)
    run(scalac + ["-d", program, "-cp",
                  program + os.pathsep + os.path.join(jars, "*")] + scala_src, log)
    run(scalac + ["-d", bench, "-cp",
                  program + os.pathsep + os.path.join(jars, "*")] + bench_src, log)
    with open(stamp, "w") as f:
        f.write(key)
    return cp, key


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()[0]))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
