#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own Scala sources (perfbench/src) into one class directory with
the Scala compiler that ships in the Spark distribution's jars.

    python3 perfbench/build.py        # from the repository root

The build is skipped when a stamp over every source file's path, size and
contents matches the last build. Output goes to $CARGO_TARGET_DIR (default
.bench_build) under the repository root.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else next to the
    spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"perfbench: engine sources not found at {engine}")
    files = []
    for base in (engine, os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(j.encode())
    return h.hexdigest()


def ensure_built():
    """Compile if needed; returns (runtime classpath as a list, compiled)."""
    jars = spark_jars()
    files = sources()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "stamp")
    want = stamp(files, jars)
    resources = os.path.join(ROOT, "src", "main", "resources")
    cp = [out, resources] + jars
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp, False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
            "-nowarn", "-d", out, "-classpath", os.pathsep.join(jars)] + files
    print(f"perfbench: compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    proc = subprocess.run(args, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise SystemExit("perfbench: compilation failed")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp, True


if __name__ == "__main__":
    ensure_built()
