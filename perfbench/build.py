"""Build file of the benchmark: compiles the engine (`src/main/scala`)
and the harness (`perfbench/src`) into `perfbench/.build/classes` with the
Scala compiler that ships in Spark's jar directory.

    python3 perfbench/build.py

Spark's jars are found through SPARK_HOME, else through `spark-submit` on
PATH. A stamp over every source file skips the compile when nothing
changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars)
                  if j.endswith(".jar"))


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise BuildError(f"engine sources missing: {engine}")
    out = []
    for top in (engine, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath():
    return os.pathsep.join([CLASSES] + spark_jars())


def java_opts():
    opts = []
    for m in ADD_OPENS:
        opts += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return opts


def build(log=sys.stderr):
    """Compile if any source changed; returns the runtime classpath."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cp = os.pathsep.join(jars)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss16m", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", cp] + srcs
    print(f"[build] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    with open(STAMP, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
