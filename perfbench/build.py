#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) in one scalac pass, with the Spark jars as the
classpath, into .perfbench_build/classes under the repository root.

Skips the compile when the sources and the jar listing are unchanged since
the last build (a content hash stamp). Needs only a JDK and the Spark jars,
which ship the Scala compiler: $SPARK_HOME/jars, else the jar directory the
repository's build.sbt names (unmanagedBase).

usage: python3 perfbench/build.py            (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench_build")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def jars_dir():
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not found:
        raise RuntimeError("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
    return found.group(1)


def classpath():
    return os.path.join(OUT, "classes") + os.pathsep + os.path.join(jars_dir(), "*")


def _sources():
    files = []
    for top in SOURCES + [RESOURCES]:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars_dir()))).encode())
    return h.hexdigest()


def build():
    """Compile if needed; return the runtime classpath. Raises on failure."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise RuntimeError("program sources src/main/scala/graft not found")
    if not os.path.isdir(jars_dir()):
        raise RuntimeError(f"Spark jars not found at {jars_dir()}")
    files = _sources()
    stamp = _stamp(files)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath()
    staging = os.path.join(OUT, "classes.new")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    scala = [f for f in files if f.endswith(".scala")]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars_dir(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", staging] + scala
    print(f"[build] compiling {len(scala)} Scala files", flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, staging, dirs_exist_ok=True)
    shutil.rmtree(os.path.join(OUT, "classes"), ignore_errors=True)
    os.rename(staging, os.path.join(OUT, "classes"))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath()


if __name__ == "__main__":
    print(build())
