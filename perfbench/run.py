#!/usr/bin/env python3
"""Benchmark command. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: feature_pipeline, interval_skew, gff_index_query (see
perfbench/WORKLOADS.md). Builds the engine and the benchmark from source
on first use (perfbench/build.py), then runs one JVM at local[nproc]
that generates the seeded inputs, measures for --seconds, checks every
operation's output and prints one JSON result as its last stdout line.
The run's full artifact (host shape, sizes, set-up rounds and, with
--trace 1, the spans) is written under the build directory in results/.
Every file the run writes stays in the build directory; its scratch
directory is removed when it ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("feature_pipeline", "interval_skew", "gff_index_query")
DEADLINE_S = 170
HEAP = "3g"
# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()

    classes, jars, sid = build.build()
    try:  # a checkout outside git has only the source hash
        sid = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                             text=True, check=True).stdout.strip() + "+src-" + sid
    except (OSError, subprocess.CalledProcessError):
        sid = "src-" + sid
    slots = len(os.sched_getaffinity(0))
    work = os.path.join(build.build_dir(), "work-%d" % os.getpid())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    artifact = os.path.join(build.build_dir(), "results",
                            "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace))
    log = os.path.join(build.build_dir(), "last-run-%s.log" % a.workload)
    cmd = (["java", "-XX:-UsePerfData", "-XX:+UseParallelGC", "-Xms" + HEAP, "-Xmx" + HEAP,
            "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes] + jars), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--slots", str(slots), "--work", work,
              "--artifact", artifact, "--source-id", sid])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, env=env, text=True)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            out = ""
            print("perfbench: run exceeded %ds" % DEADLINE_S, file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)

    result = None
    for line in out.splitlines():
        if line.startswith('{"correct"'):
            result = line
    if proc.returncode != 0 or result is None:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        print("perfbench: run failed (exit %s), log in %s" % (proc.returncode, log), file=sys.stderr)
        return 1
    json.loads(result)
    print("perfbench: artifact %s" % artifact, file=sys.stderr)
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
