"""Build file of the benchmark: compiles the program (src/main/scala)
and the benchmark (graftbench/src) with the Scala compiler that ships
with Spark, into .bench_build/classes. A stamp of every source's path
and content skips the compile when nothing changed.

    python3 graftbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")


def spark_jars() -> str:
    """$SPARK_HOME/jars, else the jars of the first Spark distribution
    whose bin/spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    sys.exit("graftbench: no Spark jars found (set SPARK_HOME)")


def classpath() -> str:
    return os.pathsep.join([CLASSES] + sorted(glob.glob(os.path.join(spark_jars(), "*.jar"))))


def sources() -> list:
    prog = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not prog:
        sys.exit("graftbench: no program sources under src/main/scala "
                 "(run from the repository root)")
    return prog + sorted(glob.glob("graftbench/src/**/*.scala", recursive=True))


def build() -> None:
    srcs = sources()
    res = sorted(p for p in glob.glob("src/main/resources/**/*", recursive=True)
                 if os.path.isfile(p))
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = spark_jars()
    compiler = os.pathsep.join(os.path.join(jars, j) for j in
                               ("scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar",
                                "scala-reflect-2.13.17.jar"))
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", classpath(), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit("graftbench: compile failed")
    for p in res:  # META-INF/services registrations
        dst = os.path.join(CLASSES, os.path.relpath(p, "src/main/resources"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


if __name__ == "__main__":
    build()
