"""Build file of the etlbench package: compiles the library under
`src/main/scala` together with the benchmark's own sources under
`etlbench/src` in one scalac run, into
`.bench_build/etlbench/classes-<hash>` at the root of the checkout.

The compiler and the Spark runtime are the jars of the Spark
installation (`$SPARK_HOME/jars`, or the one `spark-submit` on PATH
belongs to), the same jar set the project's own build compiles against.
A build is reused while no source file changes; its directory name is a
hash of every source path and byte.

    python3 etlbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT_DIR = os.path.join(ROOT, ".bench_build", "etlbench")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark installation: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java: set JAVA_HOME or put java on PATH")
    return exe


def sources():
    if not os.path.isdir(LIB_SRC):
        raise BuildError("library sources not found at src/main/scala")
    out = []
    for base in (LIB_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if needed; return the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(OUT_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    os.makedirs(OUT_DIR, exist_ok=True)
    tmp = classes + ".tmp%d" % os.getpid()
    os.makedirs(tmp)
    args_file = os.path.join(OUT_DIR, "sources%d.txt" % os.getpid())
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", tmp, "@" + args_file]
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=840)
        if r.returncode != 0:
            raise BuildError("scalac failed with exit code %d" % r.returncode)
        os.rename(tmp, classes)
        for d in os.listdir(OUT_DIR):
            if d.startswith("classes-") and ".tmp" not in d and \
                    os.path.join(OUT_DIR, d) != classes:
                shutil.rmtree(os.path.join(OUT_DIR, d), ignore_errors=True)
    finally:
        os.remove(args_file)
        shutil.rmtree(tmp, ignore_errors=True)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except (BuildError, subprocess.TimeoutExpired) as e:
        print("etlbench build: %s" % e, file=sys.stderr)
        sys.exit(2)
