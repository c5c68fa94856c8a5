#!/usr/bin/env python3
"""Flagship multivector benchmark.

Builds the engine from source (see build.py), then runs one workload in
a fresh JVM and relays its result. The last line of stdout is one JSON
object with `correct`, `attempted`, `failed` and `metrics`.

Usage:
  python3 perfbench/run.py --workload mv_batch --seed 1 --seconds 15 --trace 0
Workloads: mv_batch, mv_sql_interactive.
--trace 1 reports the per-layer metrics instead of the end-to-end ones and
writes the spans to .bench_build/traces/.
"""
import argparse
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("mv_batch", "mv_sql_interactive")
DEADLINE_S = 175  # a run must end within 180 s once built
HEAP = "3g"  # driver JVM heap; Spark runs in the driver (local mode)
# Spark on JDK 17 outside spark-submit needs these (the engine's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    started = time.monotonic()
    tmp = os.path.join(build.OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # No hsperfdata file in the system temp dir; temp files stay in the
    # checkout. The heap is committed and touched whole at start, so timed
    # calls never wait on heap growth: the forced collection that ends
    # set-up otherwise shrank the heap, and the first timed calls paid to
    # grow it again.
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-Xss8m", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, build.classpath(build.spark_jars())]),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", build.OUT]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir when it is set
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=build.ROOT, env=env)
    try:
        return proc.wait(timeout=max(10, DEADLINE_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("[perfbench] run exceeded its deadline and was stopped", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main())
