#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark's own Scala code (perfbench/src) from source into
.bench_build/classes, with the Scala compiler that ships in Spark's jars
directory and against those same jars. A compile is skipped when the
sources are unchanged.

Usage, from the repository root:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ENGINE_SRC = "src/main/scala"
DRIVER_SRC = "perfbench/src"
OUT = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else that of the first
    spark-submit on PATH that has one."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.get_exec_path() if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark jars directory with a Scala compiler; set SPARK_HOME")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources {ENGINE_SRC}/ not found; run from the repository root")
    files = []
    for d in (ENGINE_SRC, DRIVER_SRC):
        files += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return files


def build():
    """Compile if needed; returns (classes dir, Spark jars dir)."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(classes, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars
    os.makedirs(OUT, exist_ok=True)
    tmp = classes + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                             "-nowarn", "-d", tmp, "-cp", cp] + files,
                            stdout=out, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + open(log).read()[-4000:])
    with open(os.path.join(tmp, "STAMP"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build: {e}")
