"""Build file of the benchmark: compiles graft (`src/main/scala`) and the
benchmark's JVM driver (`perfbench/driver/src`) with the Scala compiler
that ships in Spark's jar directory, into `$CARGO_TARGET_DIR` (default
`.bench_build`) under the checkout. A stamp of the sources' content skips
the compile when nothing changed.

    python3 perfbench/build.py        # prints the run classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def out_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def _sources(rel):
    return sorted(glob.glob(os.path.join(ROOT, rel, "**", "*.scala"), recursive=True))


def _scalac(dest, classpath, sources):
    if os.path.exists(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest,
           "-classpath", classpath] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed for {dest}")


def build():
    """Compile if needed; return the classpath for running the driver."""
    graft_src = _sources("src/main/scala")
    driver_src = _sources("perfbench/driver/src")
    if not graft_src or not driver_src:
        raise SystemExit("build: graft sources (src/main/scala) not found")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(SPARK_JARS):
        raise SystemExit("build: set SPARK_HOME to a Spark 4 install (its jars/ holds scalac)")
    h = hashlib.sha256()
    for p in graft_src + driver_src:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()
    out = out_dir()
    graft_cls, driver_cls = os.path.join(out, "graft"), os.path.join(out, "driver")
    stamp = os.path.join(out, "stamp")
    spark_cp = os.path.join(SPARK_JARS, "*")
    if not (os.path.exists(stamp) and open(stamp).read() == key):
        if os.path.exists(stamp):
            os.remove(stamp)
        _scalac(graft_cls, spark_cp, graft_src)
        _scalac(driver_cls, graft_cls + os.pathsep + spark_cp, driver_src)
        with open(stamp, "w") as f:
            f.write(key)
    return os.pathsep.join([driver_cls, graft_cls, spark_cp])


if __name__ == "__main__":
    print(build())
