#!/usr/bin/env python3
"""Compile the program and the benchmark harness for a benchmark run.

Compiles every Scala file under src/main/scala together with perfbench/src
into .bench_build/classes-<hash>, using the Scala compiler that ships with
the Spark jars the sbt build uses (`unmanagedBase` in build.sbt). The hash
covers every source file, so an unchanged tree is not compiled again. A lock
file serializes concurrent builds; builds of other source trees are kept, as
a benchmark still running may load classes from them.

    python3 perfbench/build.py      # prints the classpath
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory build.sbt names as `unmanagedBase`."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("build.sbt not found: run from a checkout of the repository")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not glob.glob(os.path.join(m.group(1), "scala-compiler-*.jar")):
        raise BuildError("build.sbt names no unmanagedBase holding the Scala compiler")
    return m.group(1)


def sources():
    files = []
    for top in ("src/main/scala", "perfbench/src"):
        files += glob.glob(os.path.join(ROOT, top, "**", "*.scala"), recursive=True)
    if not any("/src/main/scala/" in f for f in files):
        raise BuildError("no program sources under src/main/scala")
    return sorted(files)


def build():
    """Compile if needed; return the classpath for `java -cp`."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for f in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    classpath = out + os.pathsep + os.path.join(jars, "*")
    if os.path.isfile(os.path.join(out, ".complete")):
        return classpath
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isfile(os.path.join(out, ".complete")):
            compile_into(jars, srcs, out)
    return classpath


def compile_into(jars, srcs, out):
    # under the lock, a partial build is one a killed build left behind
    for stale in glob.glob(os.path.join(BUILD_DIR, "classes-*.tmp*")):
        if os.path.isdir(stale):
            shutil.rmtree(stale, ignore_errors=True)
        else:
            os.remove(stale)
    tmp = "%s.tmp%d" % (out, os.getpid())
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    try:
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
        if r.returncode != 0:
            raise BuildError("compile failed:\n" + r.stdout[-4000:])
        open(os.path.join(tmp, ".complete"), "w").close()
        os.rename(tmp, out)
    finally:
        os.remove(argfile)
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("perfbench build: %s" % e, file=sys.stderr)
        sys.exit(2)
