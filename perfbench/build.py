#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(`src/main/scala`) together with the benchmark harness (`perfbench/src`)
with the Scala compiler that ships in Spark's jars, into
`.bench_build/classes`, then dumps the oracle SQL of every gate the
workloads call. A build whose sources are unchanged is reused.

Usage: python3 perfbench/build.py        (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
ORACLES = os.path.join(BUILD, "oracle_sql.json")
STAMP = os.path.join(BUILD, "classes.stamp")

# Spark 4 on JDK 17 needs these outside spark-submit (the list of
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else pyspark's jars."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(d):
            return d
    except ImportError:
        pass
    sys.exit("build: no Spark jars (set SPARK_HOME)")


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    files = sorted(glob.glob(os.path.join(prog, "**", "*.scala"), recursive=True))
    if not files:
        sys.exit(f"build: no engine sources under {os.path.relpath(prog, ROOT)}")
    return files + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                                    recursive=True))


def build():
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if (os.path.exists(STAMP) and open(STAMP).read() == digest
            and os.path.exists(ORACLES)):
        return
    jars = spark_jars()
    compiler = [j for part in ("compiler", "library", "reflect")
                for j in glob.glob(os.path.join(jars, f"scala-{part}-*.jar"))]
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
                    "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
                    "-classpath", os.path.join(jars, "*"), "@" + argfile],
                   check=True, stdout=sys.stderr)
    subprocess.run(["java", *ADD_OPENS, "-cp", classpath(), "perfbench.Harness",
                    "oracles", ORACLES], check=True, stdout=sys.stderr)
    with open(STAMP, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    build()
