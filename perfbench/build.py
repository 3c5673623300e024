"""Build file of the benchmark: compiles the library's main sources and
the harness under perfbench/src into one class directory, with the Scala
compiler that ships in Spark's jars. No build tool and no downloads.

The class directory is reused while a hash of every source matches the
one recorded next to it.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SCALA_VERSION = "2.13.17"
OUT = os.path.join(".bench_build", "perfbench")


def spark_jars():
    """Spark's jar directory, $SPARK_HOME/jars."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("perfbench: SPARK_HOME is not set")
    return os.path.join(home, "jars")


def sources(root):
    lib = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(root, "perfbench", "src", "**", "*.scala"), recursive=True))
    if not lib:
        raise SystemExit("perfbench: no library sources under src/main/scala; run from the repository root")
    return lib + own


def build(root="."):
    """Compile if needed; return the class directory."""
    srcs = sources(root)
    h = hashlib.sha256(SCALA_VERSION.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(root, OUT)
    classes, stamp_file = os.path.join(out, "classes"), os.path.join(out, "classes.sha256")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    os.makedirs(out, exist_ok=True)
    staging = classes + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    jars = spark_jars()
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{p}-{SCALA_VERSION}.jar")
                               for p in ("compiler", "library", "reflect"))
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", staging, "-classpath", os.path.join(jars, "*")] + srcs))
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                    "@" + argfile], check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    print(build())
