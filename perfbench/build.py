#!/usr/bin/env python3
"""Build the benchmark: compile the engine sources (src/main/scala) and
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships in the Spark distribution, into .bench_build/classes.

The build is skipped when a stamp over every source file matches the
last successful build. Usage, from the repository root:

    python3 perfbench/build.py

Prints the classpath file on success; exits non-zero on failure.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp.txt")
CP_FILE = os.path.join(OUT, "classpath.txt")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def spark_jars():
    """Jars of the Spark install: $SPARK_HOME/jars, else the jar
    directory the engine's build.sbt declares as `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("perfbench build: set SPARK_HOME")
        jar_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise SystemExit("perfbench build: no scala-compiler jar in "
                         + jar_dir)
    return jars


def sources():
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(jars).encode())
    return h.hexdigest()


def build():
    """Compile when stale; return the runtime classpath string."""
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "Api.scala")):
        raise SystemExit("perfbench build: engine sources not found "
                         "(run from the repository root)")
    jars = spark_jars()
    srcs = sources()
    want = stamp(srcs, jars)
    cp = os.pathsep.join([CLASSES, ENGINE_RES] + jars)
    if os.path.isfile(STAMP) and open(STAMP).read().strip() == want:
        return cp
    os.makedirs(CLASSES, exist_ok=True)
    for d, _, files in os.walk(CLASSES, topdown=False):
        for f in files:
            os.remove(os.path.join(d, f))
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-Djava.io.tmpdir=" + tmp,
           "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", CLASSES, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench build: scalac failed")
    with open(STAMP, "w") as f:
        f.write(want + "\n")
    with open(CP_FILE, "w") as f:
        f.write(cp + "\n")
    return cp


if __name__ == "__main__":
    build()
    print(CP_FILE)
