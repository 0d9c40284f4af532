"""Build step of the benchmark: compiles the engine sources of the checkout
together with the benchmark's Scala harness into one class directory.

The Scala 2.13 compiler and every runtime dependency ship in the Spark
distribution's jar directory (`$SPARK_HOME/jars`, or the `jars` directory
beside the `spark-submit` found on PATH), so the build needs no dependency
resolution. The output lands under
`.bench_build/` in the checkout, keyed by a hash of every compiled source,
and is reused while the sources are unchanged.
"""
import glob
import hashlib
import os
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("perfbench: Spark not found; set SPARK_HOME")
    return os.path.join(home, "jars")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not engine:
        raise SystemExit(f"perfbench: no engine sources under {ROOT}/src/main/scala; "
                         "run from the root of a graft checkout")
    return engine + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def classes():
    """Return the class directory for the current sources, compiling if needed."""
    srcs = sources()
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler in {jars} (set SPARK_HOME)")
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):  # builds of other sources
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                    "-classpath", cp, "-d", tmp] + srcs, check=True)
    os.rename(tmp, out)
    return out
