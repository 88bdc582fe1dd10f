#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/classes with the Scala compiler that ships in Spark's jar
directory, the `unmanagedBase` the program's build.sbt compiles against.

    python3 perfbench/build.py      # from the root of a checkout

A stamp over every source file's path and bytes skips the compile when
nothing changed. Exits non-zero when the program's sources are absent.
"""
import fcntl
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """The jar directory named by the program's build.sbt."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("perfbench: build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return prog + own


def build():
    """Compile if the sources changed; returns the runtime classpath."""
    srcs = sources()
    jars = os.path.join(spark_jars(), "*")
    classpath = CLASSES + os.pathsep + jars
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(BUILD, "classes.stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classpath
        tmp = CLASSES + ".tmp"
        subprocess.run(["rm", "-rf", tmp], check=True)
        os.makedirs(tmp)
        args_file = os.path.join(BUILD, "sources.txt")
        with open(args_file, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars,
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + args_file]
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
        if r.returncode != 0:
            raise SystemExit(f"perfbench: compile failed ({r.returncode})")
        subprocess.run(["rm", "-rf", CLASSES], check=True)
        os.rename(tmp, CLASSES)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classpath


if __name__ == "__main__":
    print(build())
