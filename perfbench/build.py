"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own driver
(`perfbench/scala`) with the Scala compiler that ships in the Spark
distribution's jars, into `perfbench/.build/classes`. A stamp of every
source file's content skips the compile when nothing changed.

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
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")
SRC_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    return os.path.join(home, "jars", "*")


def sources():
    out = []
    for d in SRC_DIRS:
        out += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(out)


def stamp(srcs):
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob(os.path.join(RESOURCES, "**", "*"), recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    h.update(sorted(os.listdir(os.path.dirname(spark_jars()))).__repr__().encode())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([CLASSES, RESOURCES, spark_jars()])


def ensure(log=sys.stderr):
    """Compile if the sources changed since the last build. Raises
    SystemExit with a message when the program's sources are missing or
    the compile fails."""
    if not os.path.isdir(SRC_DIRS[0]):
        raise SystemExit(f"program sources not found at {SRC_DIRS[0]}")
    os.makedirs(BUILD, exist_ok=True)
    srcs = sources()
    want = stamp(srcs)
    if os.path.exists(STAMP) and open(STAMP).read() == want and os.path.isdir(CLASSES):
        return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", spark_jars(),
           "@" + argfile]
    print(f"[build] compiling {len(srcs)} sources", file=log, flush=True)
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        tail = "\n".join(p.stdout.splitlines()[-40:])
        raise SystemExit(f"compile failed:\n{tail}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(want)


if __name__ == "__main__":
    ensure()
