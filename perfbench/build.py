"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) together with the benchmark's own
sources (`perfbench/src`) using the Scala compiler that ships in the Spark
distribution's `jars/` directory, so no build tool or network is needed.
The output lands in `$CARGO_TARGET_DIR/perfbench` (default `.bench_build/`)
and is rebuilt only when a source file changes.

    python3 perfbench/build.py        # prints the classes directory
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        sys.exit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(SOURCE_DIRS[0]):
        sys.exit("perfbench: engine sources not found at %s" % SOURCE_DIRS[0])
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def ensure_built():
    """Return the classes directory, compiling first if sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join('"%s"' % p for p in srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        sys.exit("perfbench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(ensure_built())
