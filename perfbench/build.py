#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine and the harness.

The engine (`src/main/scala`) and the harness (`perfbench/src`) are
compiled with the Scala compiler that ships in the Spark distribution
(`$SPARK_JARS`, default `/opt/spark/jars`), straight into
`.bench_build/` under the repository root. No sbt: nothing is resolved
or downloaded, and nothing is written outside the checkout. Each half is
rebuilt only when a hash over its sources changes.

Usage: python3 perfbench/build.py      (run from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "src")
ENGINE_OUT = os.path.join(BUILD, "engine")
HARNESS_OUT = os.path.join(BUILD, "harness")


def _sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compiler_cp():
    names = ("scala-compiler", "scala-library", "scala-reflect")
    jars = [os.path.join(SPARK_JARS, j) for j in sorted(os.listdir(SPARK_JARS))
            if j.endswith(".jar") and j.rsplit("-", 1)[0] in names]
    if len(jars) != 3:
        raise SystemExit(f"build: Scala compiler jars not found in {SPARK_JARS}")
    return os.pathsep.join(jars)


def _compile(files, classpath, out, log):
    """Compile into a fresh directory, then move it into place, so an
    interrupted build never leaves a half-written output behind."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, os.path.basename(out) + ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD}",
           "-cp", _compiler_cp(), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", tmp, "@" + argfile]
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"build: compiling {os.path.basename(out)} failed (exit {rc})")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def _step(name, files, classpath, out):
    stamp = _stamp(files)
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return False
    if not files:
        raise SystemExit(f"build: no sources for {name}")
    _compile(files, classpath, out, os.path.join(BUILD, name + ".log"))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return True


def build():
    """Compile what changed; return the runtime classpath."""
    if not os.path.isdir(ENGINE_SRC) or not os.path.isdir(HARNESS_SRC):
        raise SystemExit("build: run from the repository root "
                         "(src/main/scala and perfbench/src are needed)")
    os.makedirs(BUILD, exist_ok=True)
    spark_cp = os.path.join(SPARK_JARS, "*")
    engine_changed = _step("engine", _sources(ENGINE_SRC), spark_cp, ENGINE_OUT)
    if engine_changed and os.path.exists(HARNESS_OUT + ".stamp"):
        os.remove(HARNESS_OUT + ".stamp")
    _step("harness", _sources(HARNESS_SRC),
          os.pathsep.join([ENGINE_OUT, spark_cp]), HARNESS_OUT)
    return os.pathsep.join([HARNESS_OUT, ENGINE_OUT, ENGINE_RES, spark_cp])


if __name__ == "__main__":
    print(build())
