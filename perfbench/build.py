"""Build file of the benchmark: compiles the engine (`src/main/scala` of the
checkout) and the harness (`perfbench/src`) with the Scala compiler that
ships in Spark's jars, into `.bench_build/classes`.  A build is skipped
when the sources hash to the stamp of the last one.

Usage: python3 perfbench/build.py   (from the checkout root)
"""
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jars with its Scala compiler: under $SPARK_HOME, else beside
    the first `spark-submit` on the PATH that has them."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    sys.exit("no Spark jars with a Scala compiler: set SPARK_HOME")


def _sources(top):
    return sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))


def _compile(name, sources, classpath):
    out = os.path.join(BUILD, "classes", name)
    digest = hashlib.sha256()
    for s in sources:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    for c in classpath:
        digest.update(c.encode())
    stamp = os.path.join(BUILD, f"{name}.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return out
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    jars = spark_jars()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", "4",
           "-cp", os.pathsep.join(classpath + [os.path.join(jars, "*")]),
           "-d", out] + sources
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"compiling {name} failed")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return out


def build():
    """Compile if needed; return the class path of engine plus harness."""
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine_src):
        sys.exit(f"engine sources not found at {engine_src}")
    engine = _compile("graft", _sources(engine_src), [])
    harness = _compile("perfbench", _sources(os.path.join(HERE, "src")), [engine])
    return [harness, engine, os.path.join(spark_jars(), "*")]


if __name__ == "__main__":
    print(os.pathsep.join(build()))
