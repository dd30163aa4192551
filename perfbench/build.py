"""Build file of the benchmark harness.

Compiles the engine (``src/main/scala``) together with the harness
(``perfbench/harness``) with the Scala compiler that ships in Spark's
jar directory, into ``.bench_build/<source digest>/classes``. A build
whose digest is already present is reused, so only the first run of a
checkout pays for it.

    python3 perfbench/build.py            # build (or reuse) and print the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_ROOT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"engine sources not found at {engine}")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not files:
        raise SystemExit("no Scala sources to build")
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def classpath(classes):
    res = os.path.join(ROOT, "src", "main", "resources")
    return os.pathsep.join([classes, res, os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    """Return the runtime classpath, compiling first when needed."""
    files = sources()
    out = os.path.join(BUILD_ROOT, digest(files))
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "done")):
        return classpath(classes)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", jars, "-d", classes, "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise SystemExit("perfbench build failed")
    open(os.path.join(out, "done"), "w").close()
    return classpath(classes)


if __name__ == "__main__":
    print(build())
