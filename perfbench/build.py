"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/classes with the Scala compiler that ships with Spark.

The build is skipped when a stamp of every source file's path and content
matches the last build. Run from the repository root:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not srcs:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return srcs + sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    jars = spark_jars()

    def jar(prefix):
        found = sorted(glob.glob(os.path.join(jars, prefix + "*.jar")))
        if not found:
            raise SystemExit(f"perfbench: {prefix} jar missing in {jars}")
        return found[0]

    compiler = os.pathsep.join(jar(p) for p in
                               ("scala-compiler-", "scala-library-", "scala-reflect-"))
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(BUILD, "scalac.args")
    with open(args, "w") as fh:
        fh.write("\n".join(["-d", tmp, "-classpath",
                            os.path.join(jars, "*")] + srcs))
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                        "-cp", compiler, "scala.tools.nsc.Main", "@" + args])
    if r.returncode != 0:
        raise SystemExit("perfbench: compile failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    build()
    sys.exit(0)
