"""Build file of the benchmark package: compiles the engine sources
(`src/main/scala`) together with the benchmark's adapter (`perfbench/src`)
into `.bench_build/perfbench/classes`, with the Scala compiler and Spark
jars of the Spark installation (`$SPARK_HOME/jars`). Skips the compile
when the sources have not changed since the last build.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.sha256")


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars beside the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("build: no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"build: engine sources not found at {ENGINE_SRC}")
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in sorted(os.walk(base)):
            out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".scala")]
    return out


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns (classpath, source digest)."""
    jars = spark_jars()
    files = sources()
    want = digest(files)
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return classpath, want
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*")] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit("build: compile failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return classpath, want


if __name__ == "__main__":
    print(build()[0])
