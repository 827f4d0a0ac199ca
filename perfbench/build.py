"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's JVM harness (`perfbench/src`) with the Scala compiler that
ships in Spark's `jars/` directory, into `.bench_build/` at the root of the
checkout. A build is keyed by a hash of every source file, so an unchanged
tree is built once and a changed one is rebuilt from scratch.

    python3 perfbench/build.py      # build (or confirm the build), print the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else beside spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found: set JAVA_HOME")
    return exe


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "perfbench", "src", "**", "*.scala"),
                               recursive=True))
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    if not harness:
        raise BuildError("no harness sources under perfbench/src")
    return engine + harness


def ensure_built(root, log=sys.stderr):
    """Returns the classpath (classes dir + Spark jars) of a build of the
    current sources, compiling first when no such build exists."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    key = h.hexdigest()[:16]
    build_dir = os.path.join(root, ".bench_build")
    classes = os.path.join(build_dir, "classes-" + key)
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(os.path.join(classes, ".complete")):
        return classpath

    os.makedirs(build_dir, exist_ok=True)
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    staging = classes + ".tmp"
    os.makedirs(staging)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", staging,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError("compilation failed:\n" + proc.stdout[-4000:])
    open(os.path.join(staging, ".complete"), "w").close()
    os.rename(staging, classes)
    return classpath


if __name__ == "__main__":
    try:
        print(ensure_built(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(1)
