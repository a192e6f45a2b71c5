#!/usr/bin/env python3
"""Compile the engine (src/main/scala) and the workbench sources into one
class directory with scalac, skipping the compile when no source changed.

Usage, from the repository root:  python3 workbench/build.py

Output goes to .bench_build/classes. The Spark distribution supplies both the
Scala compiler and the runtime classpath: $SPARK_HOME/jars, else the jars of
the pyspark package this interpreter imports, else those next to spark-submit
on the PATH.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "workbench", "src")


BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_jars():
    homes = [os.environ.get("SPARK_HOME")]
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    raise RuntimeError("no Spark distribution found: set SPARK_HOME")


def sources():
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        out += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(out)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Return the class directory, compiling first when sources changed.
    Raises RuntimeError when the engine sources are missing or scalac fails."""
    if not os.path.isdir(ENGINE_SRC):
        raise RuntimeError("engine sources not found at src/main/scala; "
                           "run from a full checkout of the repository")
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler under {jars}")
    files = sources()
    stamp = stamp_of(files)
    bdir = BUILD_DIR
    classes = os.path.join(bdir, "classes")
    stamp_file = os.path.join(bdir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read().strip() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(bdir, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed with exit code {r.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
