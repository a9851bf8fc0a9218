#!/usr/bin/env python3
"""Pipeline benchmark: export -> silver, import -> API upload, curation.

    python3 perfbench/run.py --workload export_import --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), then runs one workload in
one JVM with local Spark on every core. The last line of stdout is the result:
{"correct", "attempted", "failed", "metrics"}. End-to-end metrics come with
--trace 0, per-layer metrics with --trace 1. Inputs and outputs live in
.bench_work/ (removed after the run); a full report of each run, spans
included, is kept in .bench_out/. See perfbench/WORKLOADS.md.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("export_import", "curate_dedup")
# set-up, the cold iteration and the warm-up iterations take 40-70 s
RUN_GRACE_SECONDS = 120

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print("perfbench build: %s" % e, file=sys.stderr)
        return 2

    root = build.ROOT
    work = os.path.join(root, ".bench_work", "%s-seed%d-%d" % (a.workload, a.seed, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--out", os.path.join(root, ".bench_out"),
            "--graft-src", os.path.join(root, "src", "main", "scala", "graft"),
            "--bench-src", os.path.join(root, "perfbench", "src")]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=a.seconds + RUN_GRACE_SECONDS)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("perfbench: run exceeded %d s" % (a.seconds + RUN_GRACE_SECONDS), file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0 or not lines[-1].startswith("{"):
        sys.stdout.write(out[-2000:])
        print("perfbench: the run failed (exit %d)" % proc.returncode, file=sys.stderr)
        return proc.returncode or 4
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
