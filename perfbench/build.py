"""Build file of the benchmark: compiles graft's `src/main` together with
the benchmark harness in `perfbench/src` into `.bench_build/classes`,
using the Scala compiler and Spark jars that ship with Spark (no sbt,
no downloads). A stamp of the sources' content skips unchanged builds.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The jars/ dir of the Spark install named by SPARK_HOME."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: set SPARK_HOME to a Spark install")
    return jars


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not graft:
        raise SystemExit("perfbench: no graft sources under src/main/scala")
    return graft + sorted(glob.glob(os.path.join(HERE, "src/*.scala")))


def source_fp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Return (classes dir, source fingerprint), compiling if stale."""
    files = sources()
    fp = source_fp(files)
    classes = os.path.join(OUT, "classes")
    stamp = os.path.join(OUT, "classes.stamp")
    if os.path.isfile(stamp) and open(stamp).read() == fp:
        return classes, fp
    jars = spark_jars()
    compiler = os.pathsep.join(os.path.join(jars, j) for j in sorted(os.listdir(jars))
                               if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-")))
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    if os.path.exists(stamp):
        os.remove(stamp)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", classes] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"perfbench: build failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(fp)
    return classes, fp


if __name__ == "__main__":
    print(build()[0])
