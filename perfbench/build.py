#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's main
sources (src/main/scala) together with the harness sources
(perfbench/scala) into one class directory, with the Scala compiler
that ships in the Spark distribution's jar directory.

    python3 perfbench/build.py            # prints the class directory

The output lands in .bench_build/classes under the current directory
(the repository root) and is reused while a digest of every input
source file is unchanged.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
SOURCE_ROOTS = ["src/main/scala", "perfbench/scala"]


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else
    the one beside the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("build: no Spark jar directory (set SPARK_HOME)")
    return jars


def sources():
    files = []
    for root in SOURCE_ROOTS:
        if not os.path.isdir(root):
            sys.exit(f"build: missing source directory {root}")
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files + [__file__]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Return (class directory, source digest), compiling if stale."""
    files = sources()
    stamp = digest(files)
    out = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.digest")
    if os.path.isdir(out) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == stamp:
        return out, stamp
    jars = spark_jars()
    compiler = ":".join(glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
                        + glob.glob(os.path.join(jars, "scala-library-*.jar"))
                        + glob.glob(os.path.join(jars, "scala-reflect-*.jar")))
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build: scalac exited {r.returncode}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out, stamp


if __name__ == "__main__":
    print(build()[0])
