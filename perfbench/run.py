#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload web_pages --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source when stale
(perfbench/build.py), then runs one workload in one JVM at local[4]
(graft.perfbench.Main) and relays its output. The last stdout line is
the JSON result {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see perfbench/METRICS.md). Everything the run writes
(build output, Spark local dir, snapshots, spans, the JVM log) lands
under .bench_build/ in the repository root.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("web_pages", "dem_hydro", "point_joins")
JVM_TIMEOUT_S = 170
# the flags spark-submit would pass on JDK 17 (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.ensure_built()
    base = os.path.join(ROOT, ".bench_build")
    work = os.path.join(base, "work", str(os.getpid()))
    logs = os.path.join(base, "logs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(
        logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss4m", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes,
                                      os.path.join(build.spark_jars(), "*")]),
              "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", os.path.join(base, "traces")])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, cwd=ROOT)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            out = None
    shutil.rmtree(work, ignore_errors=True)
    lines = (out or "").strip().splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None:
        sys.stdout.write("\n".join(lines[:-1] if lines else []) + "\n")
        with open(log_path) as fh:
            tail = fh.read().splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        sys.stderr.write(f"perfbench: run failed (exit {proc.returncode}, "
                         f"log {log_path})\n")
        sys.exit(1)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
