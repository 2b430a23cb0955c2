#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the library's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) with the Scala compiler that ships
in Spark's jar directory ($SPARK_HOME/jars), into .bench_build/classes.
The same jar directory is the runtime classpath, so the build needs no
dependency resolution. A stamp (hash of every input file) skips the
compile when nothing changed.

    python3 perfbench/build.py          # from the repository root
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "stamp"
MAIN_SRC = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"
BENCH_SRC = ROOT / "perfbench" / "src"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("build: SPARK_HOME is not set (Spark 4.1 with Scala 2.13 is required)")
    jars = sorted(pathlib.Path(home, "jars").glob("*.jar"))
    if not jars:
        raise SystemExit(f"build: no jars under {home}/jars")
    return jars


def sources():
    if not MAIN_SRC.is_dir() or not BENCH_SRC.is_dir():
        raise SystemExit("build: run from the repository root; src/main/scala or perfbench/src is missing")
    return sorted(MAIN_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    """Runtime classpath: compiled classes, library resources, Spark's jars."""
    return os.pathsep.join([str(CLASSES), str(RESOURCES)] + [str(j) for j in spark_jars()])


def build():
    srcs = sources()
    jars = spark_jars()
    inputs = srcs + sorted(p for p in RESOURCES.rglob("*") if p.is_file())
    want = digest(inputs)
    if STAMP.exists() and STAMP.read_text() == want and CLASSES.is_dir():
        return
    # compile beside the live classes and swap them in, so a run that is
    # still using the old classes never sees a half-written directory
    fresh = BUILD / "classes.new"
    shutil.rmtree(fresh, ignore_errors=True)
    fresh.mkdir(parents=True)
    compiler = [j for j in jars if j.name.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise SystemExit("build: scala-compiler/library/reflect jars not found in SPARK_HOME/jars")
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(
        ["-nowarn", "-d", str(fresh), "-classpath", os.pathsep.join(str(j) for j in jars)]
        + [str(s) for s in srcs]) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.pathsep.join(str(j) for j in compiler),
           "scala.tools.nsc.Main", f"@{argfile}"]
    print(f"build: compiling {len(srcs)} Scala files", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    old = BUILD / "classes.old"
    shutil.rmtree(old, ignore_errors=True)
    if CLASSES.exists():
        CLASSES.rename(old)
    fresh.rename(CLASSES)
    shutil.rmtree(old, ignore_errors=True)
    STAMP.write_text(want)


if __name__ == "__main__":
    build()
