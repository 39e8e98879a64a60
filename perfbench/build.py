"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's JVM harness (`perfbench/scala`) from source with the
Scala compiler that ships in the Spark distribution, into
`.bench_build/perfbench/classes` under the checkout root.

A build is skipped when a stamp of every source file's path, size and
content hash matches the last successful build.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """$SPARK_HOME/jars, else the Spark jar directory the repo's build.sbt
    compiles against (`unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise RuntimeError("no unmanagedBase in build.sbt and no SPARK_HOME")
    return m.group(1)


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(ROOT, "perfbench", "scala")]
    files = []
    for d in dirs:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; returns the classpath of the built program."""
    files = sources()
    if not any("/src/main/scala/" in f for f in files):
        raise RuntimeError("engine sources (src/main/scala) not found")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise RuntimeError(f"Spark jars not found at {jars}")
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    want = stamp(files)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           # an explicit classpath keeps the working directory off it
           "-classpath", CLASSES, "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed with exit code {r.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


if __name__ == "__main__":
    print(build())
