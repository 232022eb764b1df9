"""Build file of the benchmark: compiles the product sources (src/main/scala)
and the benchmark harness (perfbench/src) into one jar with the Scala
compiler that ships in Spark's jars.

    python3 perfbench/build.py        # prints the jar's path

The output lives under .bench_build/ at the checkout root and is keyed by a
hash of every source file, so an unchanged tree is compiled once. It is a
jar, not a class directory, because the JVM's class-data-sharing archives
that run.py keeps accept only jars on the class path.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PRODUCT = os.path.join(ROOT, "src", "main", "scala")
HARNESS = os.path.join(HERE, "src")
SCALA = "2.13.17"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the first Spark
    installation on PATH that ships the Scala compiler."""
    path = os.environ.get("PATH", "").split(os.pathsep)
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in path if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA}.jar")):
            return jars
    sys.exit(f"build: no Spark with the Scala {SCALA} compiler found; set SPARK_HOME")


def sources():
    if not os.path.isdir(PRODUCT):
        sys.exit(f"build: product sources not found at {PRODUCT}")
    found = []
    for top in (PRODUCT, HARNESS):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Returns the jar, compiling if the sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(SCALA.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "perfbench-" + h.hexdigest()[:16] + ".jar")
    if os.path.isfile(out):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes-", dir=BUILD)
    compiler = ":".join(os.path.join(jars, f"scala-{m}-{SCALA}.jar") for m in ("compiler", "library", "reflect"))
    args = os.path.join(tmp, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs))
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-cp", os.path.join(jars, "*"), "-d", tmp, "@" + args],
        stdout=sys.stderr)
    os.remove(args)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"build: scalac exited with {r.returncode}")
    jar = tmp + ".jar"
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(tmp):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), tmp))
    shutil.rmtree(tmp, ignore_errors=True)
    os.replace(jar, out)
    for old in os.listdir(BUILD):  # earlier builds and their run.py archives
        if old.startswith("perfbench-") and not old.startswith(os.path.basename(out)[:-len(".jar")]):
            os.remove(os.path.join(BUILD, old))
    return out


if __name__ == "__main__":
    print(build())
