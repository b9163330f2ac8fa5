"""Builds the benchmark harness: the program's main sources and the
harness sources in perfbench/src, compiled together with scalac.

The Spark jars (and the Scala compiler among them) are found where the
program's own build finds them: the `unmanagedBase` directory named in
build.sbt, or $SPARK_HOME/jars. The build is skipped when a stamp of
every source's content matches the last build.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


def jars_dir():
    build_sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(build_sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build_sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("build: no Spark jars: build.sbt names no unmanagedBase "
                     "directory and SPARK_HOME is not set")


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    found = []
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory missing: {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath():
    return os.path.join(jars_dir(), "*")


def build():
    jars = jars_dir()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(s.encode())
        h.update(open(s, "rb").read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = [os.path.join(jars, f"scala-{p}-2.13.17.jar")
                for p in ("compiler", "library", "reflect")]
    missing = [c for c in compiler if not os.path.exists(c)]
    if missing:
        raise SystemExit(f"build: Scala compiler jar missing: {missing[0]}")
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", CLASSES, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(STAMP, "w") as f:
        f.write(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build())
