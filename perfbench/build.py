"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's own harness (`perfbench/scala`) from source with the
Scala compiler that ships with Spark, into `<build>/classes`.

The build is skipped when a stamp of the sources matches the last one.
Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCES = ["src/main/scala", os.path.join(os.path.relpath(HERE), "scala")]
RESOURCES = "src/main/resources"


def build_dir():
    return os.path.abspath(".bench_build")


def spark_jars():
    """The jar directory of the Spark installation on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: no Spark found (set SPARK_HOME)")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: {jars} is not a directory")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def _files():
    out = []
    for root in SOURCES + [RESOURCES]:
        for dirpath, _, names in os.walk(root):
            out += [os.path.join(dirpath, n) for n in names]
    return sorted(out)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    return os.path.join(build_dir(), "classes") + os.pathsep + \
        os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compiles if the sources changed; returns the run classpath."""
    if not os.path.isdir("src/main/scala"):
        raise SystemExit("perfbench: run from the repository root "
                         "(src/main/scala not found)")
    files = _files()
    stamp = _stamp(files)
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath()
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise SystemExit(f"perfbench: no Scala 2.13 compiler in {jars}")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    srcs = [f for f in files if f.endswith(".scala")]
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp",
           os.pathsep.join(c[0] for c in compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", os.path.join(jars, "*")] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    subprocess.run(cmd, check=True, stdout=log, stderr=log)
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, tmp, dirs_exist_ok=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath()


if __name__ == "__main__":
    build()
