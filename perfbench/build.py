"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with
the Scala compiler that ships in Spark's jar directory, into
.bench_build/perfbench/classes-<source hash>. A tree whose sources are
unchanged is not rebuilt.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".bench_build", "perfbench")


def spark_jars():
    """$SPARK_HOME/jars, else the jars beside a spark-submit on PATH:
    the first of them that holds the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("build: no Scala compiler in $SPARK_HOME/jars or beside "
                     "a spark-submit on PATH")


def sources():
    engine = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala "
                         "(run from the repository root)")
    bench = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    return engine + bench


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Return (classpath, source hash), compiling if needed."""
    jars = spark_jars()
    files = sources()
    digest = source_hash(files)
    out = os.path.join(BUILD_DIR, "classes-" + digest)
    cp = os.pathsep.join([out, "src/main/resources", os.path.join(jars, "*")])
    if os.path.isdir(out):
        return cp, digest
    os.makedirs(BUILD_DIR, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"),
           "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    os.rename(tmp, out)
    return cp, digest


if __name__ == "__main__":
    print(build()[0])
