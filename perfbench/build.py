#!/usr/bin/env python3
"""Build the benchmark: compile the program (src/main/scala) together with
the benchmark sources (perfbench/src) with the Scala compiler that ships in
the Spark distribution. Output goes under .bench_build/ and is reused while
no source file changes.

    python3 perfbench/build.py          # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"build: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not prog:
        raise SystemExit("build: no program sources under src/main/scala")
    if not bench:
        raise SystemExit("build: no benchmark sources under perfbench/src")
    return prog + bench


def build():
    """Return the classes directory, compiling when the sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    def jar(prefix):
        found = glob.glob(os.path.join(jars, prefix + "-2.13.*.jar"))
        if not found:
            raise SystemExit(f"build: {prefix} jar not found under {jars}")
        return found[0]

    compiler_cp = os.pathsep.join(jar(p) for p in ("scala-compiler", "scala-library", "scala-reflect"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", os.path.join(jars, "*"), "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        raise SystemExit(f"build: scalac failed with exit code {res.returncode}")
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    # earlier builds and the base tables they cached
    for old in glob.glob(os.path.join(OUT, "classes-*")) + glob.glob(os.path.join(OUT, "fixture-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
