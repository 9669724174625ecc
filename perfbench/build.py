#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program (`src/main/scala`) together with the benchmark's own
JVM sources (`perfbench/scala`) into one class directory, using the Scala
compiler that ships with the Spark distribution: `$SPARK_HOME/jars`, or the
`unmanagedBase` jar directory that the repository's `build.sbt` names.
Nothing is downloaded and nothing is written outside the build directory:
`$CARGO_TARGET_DIR` when set, else `.bench_build`, under the repository
root. A build is reused while no source file changes.

    python3 perfbench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class BuildError(Exception):
    pass


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")


def spark_jar_dir():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("set SPARK_HOME to a Spark distribution")
    return m.group(1)


def spark_jars():
    jars = sorted(glob.glob(os.path.join(spark_jar_dir(), "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {spark_jar_dir()}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        raise BuildError(f"program sources not found under {ROOT}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench", "scala", "**", "*.scala"),
                             recursive=True))
    return program + bench


def build():
    """Returns the class directory, compiling first if any source changed."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for path in srcs + [j for j in jars if "scala-compiler" in j]:
        h.update(os.path.relpath(path, ROOT).encode())
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()[:16]
    out = os.path.join(build_dir(), f"classes-{stamp}")
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    os.makedirs(build_dir(), exist_ok=True)
    for old in glob.glob(os.path.join(build_dir(), "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(build_dir(), "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jars)] + srcs))
    proc = subprocess.run(
        [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jar_dir(), "*"),
         "scala.tools.nsc.Main", "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=900)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
