"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own Scala server
(`perfbench/scala`) with the Scala compiler that ships in the Spark
distribution, the same jars the program's sbt build compiles against.

    python3 perfbench/build.py        # from the repository root

Output goes to `.bench_build/classes`; a stamp over every source file's
path and content skips the compile when nothing changed.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
SOURCES = ["src/main/scala", "perfbench/scala"]
RESOURCES = "src/main/resources"


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"SPARK_HOME must name a Spark distribution with a Scala compiler "
                         f"(no scala-compiler jar under {jars})")
    return os.path.join(jars, "*")


def sources():
    files = []
    for root in SOURCES:
        if not os.path.isdir(root):
            raise SystemExit(f"missing source directory {root}: "
                             "run from the root of a full checkout")
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def classpath():
    """Runtime classpath: compiled classes, program resources, Spark."""
    return os.pathsep.join([os.path.join(BUILD, "classes"), RESOURCES, spark_jars()])


def build(log=sys.stderr):
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    jars = spark_jars()
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jars, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"compile failed ({r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
