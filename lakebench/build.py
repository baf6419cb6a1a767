"""Build file of the lake benchmark.

Compiles the engine's sources (`src/main/scala` of the checkout) together
with the benchmark's own sources (`lakebench/src`) into
`.bench_build/lakebench/lakebench.jar` (a jar, so that the JVM's class
data sharing can archive its classes), with the Scala compiler that ships in
the Spark distribution the engine builds against (`$SPARK_HOME/jars`, or
the distribution of the `spark-submit` on PATH — the jars `build.sbt`
uses). A stamp over every source file's path and bytes makes a second
build a no-op.

    python3 lakebench/build.py          # build if needed, print classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build", "lakebench")
JAR = os.path.join(OUT, "lakebench.jar")
STAMP = os.path.join(OUT, "stamp")
SCALAC_FLAGS = ["-nowarn", "-deprecation:false", "-release", "17"]


def spark_jars():
    """`jars/` of $SPARK_HOME, else of the first Spark distribution whose
    `bin/spark-submit` is on PATH; it must hold the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars) and any(
                f.startswith("scala-compiler") for f in os.listdir(jars)):
            return jars
    raise BuildError("no Spark distribution with jars/: set SPARK_HOME")


class BuildError(Exception):
    pass


def sources(top, ext):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(ext)]
    return sorted(out)


def stamp_of(files):
    h = hashlib.sha256(" ".join(SCALAC_FLAGS).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile if the sources changed; return the run classpath."""
    if not os.path.isdir(ENGINE_SRC) or not os.path.isdir(BENCH_SRC):
        raise BuildError("engine sources not found under " + ENGINE_SRC)
    jars = spark_jars()
    srcs = sources(ENGINE_SRC, ".scala") + sources(BENCH_SRC, ".scala")
    res = sources(ENGINE_RES, "") if os.path.isdir(ENGINE_RES) else []
    stamp = stamp_of(srcs + res)
    classpath = JAR + os.pathsep + os.path.join(jars, "*")
    if (os.path.isfile(JAR) and os.path.isfile(STAMP)
            and open(STAMP).read() == stamp):
        return classpath
    # class data sharing archives (see run.py) hold the old jar's classes
    for f in os.listdir(OUT) if os.path.isdir(OUT) else []:
        if f.startswith("cds-") and f.endswith(".jsa"):
            os.remove(os.path.join(OUT, f))
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-d", tmp] + SCALAC_FLAGS + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=600)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    for f in res:
        dst = os.path.join(tmp, os.path.relpath(f, ENGINE_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with zipfile.ZipFile(JAR + ".tmp", "w") as jar:
        for f in sources(tmp, ""):
            jar.write(f, os.path.relpath(f, tmp))
    shutil.rmtree(tmp)
    os.replace(JAR + ".tmp", JAR)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
