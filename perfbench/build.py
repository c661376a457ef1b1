#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into .bench_build/perfbench/<hash>/classes
with the Scala compiler that ships in Spark's jars directory (the one
build.sbt compiles against), the same compiler version build.sbt names.
The hash covers every source file, so an unchanged tree reuses its
classes and any edit rebuilds.

    python3 perfbench/build.py          # prints the classes directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The jars directory build.sbt compiles against (its unmanagedBase),
    else $SPARK_HOME/jars."""
    jars = None
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m and m.group(1)
    if not jars and os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not jars or not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no Spark jars directory ({jars})")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"perfbench: no program sources at {PROGRAM_SRC}")
    found = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compiles if needed; returns the classes directory."""
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(OUT, digest.hexdigest()[:16], "classes")
    if os.path.isdir(classes):
        return classes
    os.makedirs(OUT, exist_ok=True)
    staging = tempfile.mkdtemp(prefix="classes-", dir=OUT)
    jars = os.path.join(spark_jars(), "*")
    argfile = os.path.join(staging, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", staging, "-classpath", jars, "@" + argfile]
    done = subprocess.run(cmd, stdout=sys.stderr, timeout=840)
    os.remove(argfile)
    if done.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    os.makedirs(os.path.dirname(classes), exist_ok=True)
    os.rename(staging, classes)
    return classes


if __name__ == "__main__":
    print(build())
