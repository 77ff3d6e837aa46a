"""Build file of the benchmark: compiles the engine (src/main/scala) together
with the benchmark harness (perfbench/src) into .bench_build/perfbench.

The Scala compiler and every library come from the Spark distribution's
jars directory ($SPARK_HOME/jars, else next to the spark-submit on PATH), so
the build needs no dependency resolution. A content hash of the sources
skips the compile when nothing changed.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Spark jars with a Scala compiler under {jars}")
    return jars


def sources() -> list:
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory {d} is missing")
    files = sorted(f for d in SOURCE_DIRS
                   for f in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit("build: no Scala sources found")
    return files


def classpath() -> str:
    """Runtime classpath: the compiled classes, then the Spark jars."""
    return os.path.join(OUT, "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr) -> str:
    """Compiles unless the sources are unchanged; returns their hash."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, "stamp")
    classes = os.path.join(OUT, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return h.hexdigest()
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    print(f"build: compiling {len(files)} Scala files", file=log, flush=True)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout, file=log)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return h.hexdigest()


if __name__ == "__main__":
    print(build())
