"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/scala`) with the Scala compiler that ships in the
Spark distribution, against Spark's jars. The repository's `build.sbt` is
not used or changed. The output lands in `$CARGO_TARGET_DIR/perfbench`
(default `.bench_build/perfbench`) and is rebuilt only when a source file
changes.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

PROGRAM_SOURCES = os.path.join("src", "main", "scala")
BENCH_SOURCES = os.path.join("perfbench", "scala")


def spark_jars():
    home = os.environ.get("SPARK_HOME") or os.path.join(os.sep, "opt", "spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark distribution with a Scala compiler at {jars}; set SPARK_HOME")
    return jars


def sources(root):
    out = []
    for base in (PROGRAM_SOURCES, BENCH_SOURCES):
        found = sorted(glob.glob(os.path.join(root, base, "**", "*.scala"), recursive=True))
        if not found:
            raise SystemExit(f"no Scala sources under {os.path.join(root, base)}: "
                             "run from the root of a spark-graft checkout")
        out += found
    return out


def stamp_of(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure(root):
    """Returns the classes directory, compiling first if it is stale."""
    files = sources(root)
    jars = spark_jars()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    stamp = stamp_of(root, files)
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", tmp, "-nowarn", "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=800)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(ensure(os.getcwd()))
