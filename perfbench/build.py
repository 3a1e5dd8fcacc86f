#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own Scala sources, with the Scala compiler that ships in the
Spark jar directory (no sbt, no network).

    python3 perfbench/build.py            # from the repository root

Classes land in .bench_build/classes. A stamp of every source file's hash
skips the compile when nothing changed; build() returns it.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the unmanagedBase the
    repository's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jar directory (set SPARK_HOME)")


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(out)


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("build: graft sources not found under src/main/scala")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return stamp
    jars = os.path.join(spark_jars(), "*")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
    print("build: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace"))
        raise SystemExit("build: compile failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return stamp


if __name__ == "__main__":
    build()
