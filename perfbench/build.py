"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
into `.bench_build/classes`, with the Scala compiler that ships in the
Spark distribution's jars. Nothing is fetched. A stamp of the source
contents skips the compile when nothing changed.

Run alone:  python3 perfbench/build.py
"""

import glob
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, else the jars the
    installed `pyspark` package ships (the same distribution)."""
    homes = [os.environ.get("SPARK_HOME")]
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.submodule_search_locations:
        homes.append(spec.submodule_search_locations[0])
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    raise BuildError(f"no Spark jars found (set SPARK_HOME); looked in {[h for h in homes if h]}")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources not found: {PROGRAM_SRC}")
    found = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def _stamp(srcs, jars):
    h = hashlib.sha256()
    h.update(" ".join(sorted(os.path.basename(j) for j in glob.glob(os.path.join(jars, "scala-*.jar")))).encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """Runtime classpath: compiled classes, program resources, Spark jars."""
    return os.pathsep.join([CLASSES, PROGRAM_RESOURCES, os.path.join(spark_jars(), "*")])


def ensure(log=sys.stderr):
    """Compile if the sources changed since the last build."""
    jars = spark_jars()
    srcs = sources()
    stamp = _stamp(srcs, jars)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar")) for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"no Scala 2.13 compiler jars under {jars}")
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", os.path.join(jars, "*"),
           "-d", tmp, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")


if __name__ == "__main__":
    try:
        ensure()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
