"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark harness (`perfbench/harness`) with the Scala compiler that
ships with Spark, into `.bench_build/classes-<digest>`. The digest covers
every source file, so an unchanged tree is never rebuilt.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the engine build's unmanagedBase."""
    dirs = [os.path.join(os.environ["SPARK_HOME"], "jars")] if "SPARK_HOME" in os.environ else []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for d in dirs:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise SystemExit("build: no Spark jars with a Scala compiler (set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(ROOT, "perfbench/harness/**/*.scala"),
                               recursive=True))
    return engine + harness


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_OK")):
        return out
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", out] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: scalac failed")
    open(os.path.join(out, "_OK"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
