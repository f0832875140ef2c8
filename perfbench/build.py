#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) in one scalac pass, using the
Scala compiler that ships with the Spark distribution, into
`.bench_build/perfbench/classes`. A stamp of every source file's path,
size and mtime makes a rebuild happen only when a source changed.

    python3 perfbench/build.py          # build if stale, print classes dir
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


def spark_jars():
    """Directory of the Spark distribution's jars: $SPARK_JARS_DIR, else
    the unmanaged library base the engine's build.sbt names."""
    d = os.environ.get("SPARK_JARS_DIR")
    if d is None:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m is None:
            raise SystemExit("build: no unmanagedBase in build.sbt; "
                             "set SPARK_JARS_DIR")
        d = m.group(1)
    if not os.path.isdir(d):
        raise SystemExit(f"build: Spark jars directory {d} not found")
    return d


def sources():
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for dirpath, _, files in os.walk(base):
            out.extend(os.path.join(dirpath, f) for f in files
                       if f.endswith(".scala"))
    return sorted(out)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n"
                 .encode())
    return h.hexdigest()


def ensure_built():
    """Compile when stale; return the classes directory. Concurrent
    callers serialise on a lock file, so one compiles and the rest
    reuse its output."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"build: engine sources {ENGINE_SRC} not found")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build()


def _build():
    files = sources()
    stamp = stamp_of(files)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return CLASSES
    jars = spark_jars()
    tool = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
            if j.startswith(("scala-compiler-", "scala-library-",
                             "scala-reflect-"))]
    if len(tool) != 3:
        raise SystemExit("build: scala compiler/library/reflect jars not "
                         f"found in {jars}")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(tool),
           "scala.tools.nsc.Main", "-usejavacp",
           "-d", tmp, "-cp", os.path.join(jars, "*"), "@" + args_file]
    print(f"build: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return CLASSES


if __name__ == "__main__":
    print(ensure_built())
