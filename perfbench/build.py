#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (src/main/scala of the checkout) together with the
benchmark's own Scala sources (perfbench/scala) into one class directory,
with the Scala compiler that ships in Spark's jars directory
($SPARK_HOME/jars). The class
directory is keyed by a digest of every source file, so an unchanged tree
is not recompiled.

    python3 perfbench/build.py        # prints the class directory

Outputs go under .bench_build/perfbench/ in the checkout.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """The directory of Spark's jars, $SPARK_HOME/jars."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if glob.glob(os.path.join(jars, "scala-compiler-*.jar")) and glob.glob(
            os.path.join(jars, "spark-sql_*.jar")):
        return jars
    raise BuildError("SPARK_HOME must name a Spark install whose jars include "
                     "scala-compiler and spark-sql")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise BuildError(f"engine sources not found at {engine}")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    if not any(f.startswith(engine) for f in files):
        raise BuildError("no engine sources to compile")
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; return (class dir, jars dir, source digest)."""
    jars = spark_jars()
    files = sources()
    dg = digest(files)
    out = os.path.join(BUILD, "classes-" + dg[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out, jars, dg
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840, cwd=BUILD)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise BuildError(f"scalac failed with code {proc.returncode}")
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    return out, jars, dg


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
