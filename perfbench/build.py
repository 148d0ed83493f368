#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark (perfbench/src) from source with the Scala compiler that ships in
the Spark distribution, into .bench_build/classes-<source digest>.

    python3 perfbench/build.py        # prints the classes directory

A build is reused while no source file changes.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    """The Spark distribution's jars: $SPARK_JARS_DIR, else $SPARK_HOME/jars,
    else the directory the project's build.sbt names as its unmanagedBase."""
    if os.environ.get("SPARK_JARS_DIR"):
        return os.environ["SPARK_JARS_DIR"]
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = spark_jars()


class BuildError(Exception):
    pass


def scala_files(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def program_digest():
    """Digest of the program's own sources, recorded as provenance."""
    return source_digest(scala_files(PROGRAM_SRC))


def classpath(classes):
    return os.pathsep.join([classes, RESOURCES, os.path.join(SPARK_JARS, "*")])


def ensure_built(log=sys.stderr):
    program = scala_files(PROGRAM_SRC)
    if not program:
        raise BuildError(f"no program sources under {os.path.relpath(PROGRAM_SRC, ROOT)}")
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"Spark jars not found at '{SPARK_JARS}' (set SPARK_JARS_DIR)")
    sources = program + scala_files(BENCH_SRC)
    out = os.path.join(BUILD, "classes-" + source_digest(sources)[:16])
    if os.path.exists(os.path.join(out, "BUILD_OK")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    java = shutil.which("java")
    if java is None:
        raise BuildError("java not found on PATH")
    cmd = [java, "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + sources
    print(f"building {len(sources)} sources into {os.path.relpath(out, ROOT)}", file=log)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build landed first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
