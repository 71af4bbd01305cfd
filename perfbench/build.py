"""Build file of the benchmark: compiles graft and the benchmark from source.

graft's own build is sbt. The benchmark compiles the same sources
(`src/main/scala`) together with its own (`perfbench/src`) using the Scala
compiler that ships among Spark's jars, so a build needs only a JDK and a
Spark 4 distribution, and writes only to `.bench_build/` in the checkout.
Spark's jars are taken from `$SPARK_HOME/jars`, or, when `SPARK_HOME` is
unset, from the directory graft's `build.sbt` names as `unmanagedBase`. A
build is skipped when no source changed since the last one.

    python3 perfbench/build.py        # run from the root of the checkout
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jar_dir():
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    try:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    return m.group(1) if m else None


def spark_jars():
    jars = spark_jar_dir()
    if not jars or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("build: set SPARK_HOME to a Spark 4 distribution")
    return os.path.join(jars, "*")


def sources():
    missing = [d for d in SOURCE_DIRS if not os.path.isdir(d)]
    if missing:
        raise SystemExit(f"build: missing source directories {missing}; "
                         "run from the root of a graft checkout")
    return sorted(f for d in SOURCE_DIRS
                  for f in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def build():
    """Compiles if needed; returns the classpath to run with."""
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    classpath = os.pathsep.join([classes, jars])
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jars, "@" + argfile]
    if subprocess.call(cmd, stdout=sys.stderr) != 0:
        raise SystemExit("build: compilation failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


if __name__ == "__main__":
    build()
