#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (graftbench/scala) with the Scala compiler that ships in
Spark's jars, into .bench_build/classes-<digest of the sources>.

A build is reused while no source changes; a new digest replaces the old
output. Prints the class directory. Usage: python3 graftbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


SCALAC_OPTS = ["-usejavacp", "-nowarn"]


class BuildError(Exception):
    pass


def spark_jars():
    """Jars of SPARK_HOME, else of the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise BuildError("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return engine + harness


def build():
    srcs = sources()
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, "BUILD_OK")):
        return classes
    os.makedirs(OUT, exist_ok=True)
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(classes, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    # an explicit -classpath keeps scalac's default "." from turning
    # directories of the working tree into packages
    scalac = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
              "scala.tools.nsc.Main"] + SCALAC_OPTS
    r = subprocess.run(scalac + ["-classpath", classes, "-d", classes, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    open(os.path.join(classes, "BUILD_OK"), "w").close()
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(str(e))
