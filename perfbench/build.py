#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark program (perfbench/scala) with the Scala compiler that ships
in Spark's jars directory, into <build dir>/perfbench/classes. The jars
directory is $SPARK_HOME/jars, or else the `unmanagedBase` the project's
build.sbt declares.

The build dir is $CARGO_TARGET_DIR when set, else .bench_build at the
repository root. A stamp of the sources' content skips the compile when
nothing changed.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME; build.sbt declares no unmanagedBase")
    return m.group(1)


def out_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, base, "perfbench")


def classes_dir():
    return os.path.join(out_dir(), "classes")


def classpath():
    return classes_dir() + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit("perfbench: engine sources not found under " + ENGINE_SRC)
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def build():
    """Compile when the sources changed; returns the classes directory."""
    srcs = sources()
    jars = spark_jars()
    compiler = sorted(glob.glob(os.path.join(jars, "scala-compiler-*.jar")))
    if not compiler:
        raise SystemExit("perfbench: no scala-compiler jar in " + jars)
    h = hashlib.sha256()
    for p in srcs + compiler:
        h.update(os.path.relpath(p, ROOT).encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    classes = classes_dir()
    stamp_file = os.path.join(out_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    version = os.path.basename(compiler[-1])[len("scala-compiler-"):-len(".jar")]
    scala_cp = os.pathsep.join(
        os.path.join(jars, f"scala-{m}-{version}.jar") for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", scala_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*")] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
