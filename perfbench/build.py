"""Build file of the benchmark package.

Compiles graft's main sources (src/main/scala) and the benchmark's own
driver and tracer (perfbench/src) with the Scala compiler that ships in the
Spark distribution's jars, the same compiler version the project's sbt
build uses. Each output directory is keyed by a hash of its sources, so an
unchanged checkout is compiled once.

Usage: python3 perfbench/build.py   (prints the runtime classpath)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = os.path.abspath(os.path.join(".bench_build", "perfbench"))


class BuildFailed(Exception):
    pass


def _spark_jars():
    """$SPARK_HOME/jars, else the jars directory the project's sbt build uses."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = open("build.sbt").read() if os.path.exists("build.sbt") else ""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m:
        raise BuildFailed("Spark jars not found: set SPARK_HOME")
    return m.group(1)


def _sources(pattern):
    return sorted(glob.glob(pattern, recursive=True))


def key(paths, salt=""):
    h = hashlib.sha256(salt.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def _scalac(srcs, out, classpath, spark_jars):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildFailed(f"scalac failed for {out}:\n{r.stdout[-4000:]}")
    os.replace(tmp, out)


def build():
    """Compile what is stale; return the runtime classpath."""
    graft_srcs = _sources("src/main/scala/**/*.scala")
    bench_srcs = _sources("perfbench/src/**/*.scala")
    if not graft_srcs:
        raise BuildFailed("no program sources under src/main/scala: run from the repository root")
    if not bench_srcs:
        raise BuildFailed("no benchmark sources under perfbench/src")
    spark_jars = _spark_jars()
    if not os.path.isdir(spark_jars):
        raise BuildFailed(f"Spark jars not found at {spark_jars}: set SPARK_HOME")
    jars = os.path.join(spark_jars, "*")
    gkey = key(graft_srcs, "\n".join(sorted(os.listdir(spark_jars))))
    gout = os.path.join(BUILD_DIR, f"graft-{gkey}")
    if not os.path.isdir(gout):
        _scalac(graft_srcs, gout, jars, spark_jars)
    bout = os.path.join(BUILD_DIR, f"bench-{key(bench_srcs, gkey)}")
    if not os.path.isdir(bout):
        _scalac(bench_srcs, bout, os.pathsep.join([gout, jars]), spark_jars)
    return os.pathsep.join([bout, gout, jars])


if __name__ == "__main__":
    try:
        print(build())
    except BuildFailed as e:
        sys.exit(str(e))
