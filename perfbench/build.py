"""Build file of the benchmark package: compiles the engine (src/main/scala)
together with the harness (perfbench/scala) with scalac from the Spark
distribution's own jars, into `<build>/classes`.

Usage: python3 perfbench/build.py [buildDir]   (from the repository root)

The build is skipped when a stamp of every source file's path and content
matches the last successful build, so only the first run in a checkout
pays for it.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_home():
    """$SPARK_HOME, else the Spark distribution the pyspark package ships."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    try:
        import pyspark
    except ImportError:
        sys.exit("build: set SPARK_HOME (no pyspark package to fall back on)")
    return os.path.dirname(pyspark.__file__)


SPARK_JARS = os.path.join(spark_home(), "jars")
HERE = os.path.dirname(os.path.abspath(__file__))


def sources(root):
    found = []
    for base in (os.path.join(root, "src", "main", "scala"),
                 os.path.join(HERE, "scala")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def classpath():
    return os.path.join(SPARK_JARS, "*")


def scala_jar(prefix):
    hits = sorted(glob.glob(os.path.join(SPARK_JARS, prefix + "*.jar")))
    if not hits:
        sys.exit(f"build: no {prefix} jar under {SPARK_JARS}")
    return hits[-1]


def build(root, build_dir):
    """Returns the class directory, compiling first when sources changed."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src")) for s in srcs):
        sys.exit(f"build: no engine sources under {root}/src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler_cp = os.pathsep.join(scala_jar(p) for p in (
        "scala-compiler-", "scala-library-", "scala-reflect-"))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", compiler_cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", classpath()] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"build: scalac failed ({r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    root = os.getcwd()
    print(build(root, sys.argv[1] if len(sys.argv) > 1
                else os.path.join(root, ".bench_build")))
