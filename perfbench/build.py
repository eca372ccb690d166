"""Build file of the benchmark package.

Compiles the library (`src/main/scala`) and the benchmark
(`perfbench/src`) with the Scala compiler that ships in Spark's jar
directory, into `$CARGO_TARGET_DIR/classes` (default `.bench_build`,
relative to the repository root). The build is skipped when a stamp of
every source file's content matches the last build, so runs start the
JVM on already-compiled classes.

    python3 perfbench/build.py      # build if stale, print the class dir
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def spark_home():
    """$SPARK_HOME, else the installation that `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home:
        raise SystemExit("perfbench: set SPARK_HOME (Spark's jars, Scala compiler included)")
    return home


SPARK_JARS = os.path.join(spark_home(), "jars")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(SPARK_JARS, "*")])


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure():
    """Return the class directory, compiling first if the sources changed."""
    files = sources()
    want = stamp(files)
    classes = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return classes
    os.makedirs(build_dir(), exist_ok=True)
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", staging,
           "-classpath", os.path.join(SPARK_JARS, "*")] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise SystemExit("perfbench: compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classes


if __name__ == "__main__":
    print(ensure())
