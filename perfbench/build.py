"""Build file of the benchmark: compiles the engine's main sources and the
benchmark's own sources into one class directory with the Scala compiler
that ships in the Spark distribution (no sbt, no network, no writes outside
the checkout).

    python3 perfbench/build.py          # from the root of a checkout

The output lives under .bench_build/perfbench/ and is rebuilt only when a
source file or this script changes.
"""
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def _spark_jars():
    """The Spark distribution's jars: $SPARK_JARS_DIR, else $SPARK_HOME/jars,
    else those of the first `spark-submit` on the PATH that has them (a pip
    pyspark's `spark-submit` has none beside it)."""
    if os.environ.get("SPARK_JARS_DIR"):
        return os.environ["SPARK_JARS_DIR"]
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        jars = os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars")
        if os.path.isfile(submit) and os.path.isdir(jars):
            return jars
    return "jars"


SPARK_JARS = _spark_jars()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def _sources():
    srcs = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            srcs += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(srcs)


def _digest(paths):
    h = hashlib.sha256()
    for p in paths + [os.path.abspath(__file__)]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath():
    """Runtime classpath: benchmark + engine classes, engine resources, Spark."""
    return os.pathsep.join([CLASSES, ENGINE_RES, os.path.join(SPARK_JARS, "*")])


def build(log=sys.stderr):
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"perfbench: engine sources not found at {ENGINE_SRC}")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"perfbench: Spark jars not found at {SPARK_JARS}")
    srcs = _sources()
    digest = _digest(srcs)
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    os.makedirs(CLASSES, exist_ok=True)
    for d, _, files in os.walk(CLASSES, topdown=False):
        for f in files:
            os.remove(os.path.join(d, f))
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(SPARK_JARS, "*")
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", jars,
           "scala.tools.nsc.Main", "-deprecation", "-nowarn",
           "-classpath", jars, "-d", CLASSES, "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    subprocess.run(cmd, check=True, stdout=log, stderr=log)
    with open(STAMP, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    build()
