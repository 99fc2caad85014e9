#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
one class directory, with the Scala compiler and the Spark jars of the
Spark installation ($SPARK_HOME, else the one whose spark-submit is on
PATH). The output goes to $CARGO_TARGET_DIR (default .bench_build) under
perfbench/, keyed by a hash of every source file, so an unchanged tree
is not compiled twice.

Run from the repository root:  python3 perfbench/build.py
Prints the class directory on success; exits non-zero if the sources or
the toolchain are missing.
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH_DIR, "src")]


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, base, "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark installation found (set SPARK_HOME)")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def sources():
    files = []
    for d in SOURCE_DIRS:
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    if not any(f.startswith(SOURCE_DIRS[0]) for f in files):
        raise SystemExit("perfbench: engine sources not found under src/main/scala")
    return sorted(files)


def source_id(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile if needed; returns (class dir, classpath list, source id)."""
    files = sources()
    jars = spark_jars()
    sid = source_id(files)
    out = os.path.join(build_dir(), "classes-" + sid)
    if not os.path.isdir(out):
        tmp = os.path.join(build_dir(), "partial-" + sid)
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        args = os.path.join(build_dir(), "scalac-args.txt")
        with open(args, "w") as fh:
            fh.write("-nowarn\n-classpath\n" + os.pathsep.join(jars) + "\n-d\n" + tmp + "\n")
            fh.write("\n".join(files) + "\n")
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
               "scala.tools.nsc.Main", "@" + args]
        if subprocess.call(cmd, stdout=sys.stderr) != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit("perfbench: compilation failed")
        for old in os.listdir(build_dir()):
            if old.startswith("classes-"):
                shutil.rmtree(os.path.join(build_dir(), old), ignore_errors=True)
        os.rename(tmp, out)
    return out, jars, sid


if __name__ == "__main__":
    print(build()[0])
