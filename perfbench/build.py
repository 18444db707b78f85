"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/scala) together with the Scala compiler
that ships in the Spark distribution's jars, into <build dir>/classes.

Program sources are taken from the working directory (a checkout's
root), harness sources from this file's directory, so one copy of the
benchmark can build any checkout (see compare.py). The build dir is
$CARGO_TARGET_DIR when set, else .bench_build, relative to the working
directory. A build whose sources hash to the recorded digest is skipped.

Usage (from the repository root): python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jars next
    to the first spark-submit on PATH that has them."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise RuntimeError("no Spark distribution: set SPARK_HOME")


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


HERE = os.path.dirname(os.path.abspath(__file__))


def sources():
    return (sorted(glob.glob("src/main/scala/**/*.scala", recursive=True)),
            sorted(glob.glob(os.path.join(HERE, "scala", "*.scala"))))


def build():
    """Returns the classes directory, compiling first if sources changed."""
    program, bench = sources()
    if not program or not bench:
        raise RuntimeError("no sources: run from the repository root "
                           "(src/main/scala) with the harness in perfbench/scala")
    digest = hashlib.sha256()
    for f in program + bench:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(build_dir(), "classes")
    stamp = out + ".sha256"
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-cp", cp, "-d", tmp] + program + bench,
                   check=True, stdout=sys.stderr)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return out


if __name__ == "__main__":
    print(build())
