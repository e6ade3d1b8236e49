"""Build file of the graft benchmark.

Compiles the library sources (`src/main/scala`) together with the
benchmark's own sources (`perfbench/src`) with the Scala compiler that ships
in the Spark distribution, into `.bench_build/perfbench/<hash>/classes`.
The output directory is keyed by a hash of every source file, so a checkout
builds once and later runs reuse the classes.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
LIB_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the directory
    the project's build.sbt names as its `unmanagedBase`."""
    jars = None
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    elif os.path.exists(os.path.join(ROOT, "build.sbt")):
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else None
    if not jars or not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    if not os.path.isdir(LIB_SRC):
        raise SystemExit(f"perfbench: library sources missing: {LIB_SRC}")
    out = []
    for base in (LIB_SRC, BENCH_SRC):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if needed; return the runtime classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, h.hexdigest()[:16], "classes")
    jars = spark_jars()
    if not os.path.exists(os.path.join(classes, ".complete")):
        staging = classes + ".tmp"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
               "-nowarn", "-d", staging, "-classpath", jars] + srcs
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit(f"perfbench: compile failed ({r.returncode})")
        open(os.path.join(staging, ".complete"), "w").close()
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(staging, classes)
        # drop builds of other source states
        keep = os.path.basename(os.path.dirname(classes))
        for d in os.listdir(BUILD):
            if len(d) == 16 and d != keep:
                shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
    return os.pathsep.join([classes, LIB_RES, jars])


if __name__ == "__main__":
    print(build())
