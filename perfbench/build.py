#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the repository's main Scala sources, then the benchmark's own
sources against them, with the Scala compiler that ships among Spark's
jars. Nothing is fetched. Output goes to `.perfbench/build/` at the root
of the checkout; a stamp of the source contents skips an up-to-date build.

    python3 perfbench/build.py          # build if needed, print the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench", "build")
REPO_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
JAVA_OPTS = ["-Xss8m", "-Xmx2g", "-XX:-UsePerfData"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        sys.exit("build: Spark's jar directory not found (set SPARK_HOME)")
    return jars


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(jars, classpath, dest, files):
    os.makedirs(dest, exist_ok=True)
    cmd = ["java", *JAVA_OPTS, "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", dest, "-classpath", classpath, *files]
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed for {dest}")


def build():
    """Returns the runtime classpath, building whatever is out of date."""
    if not os.path.isdir(REPO_SRC):
        sys.exit(f"build: {REPO_SRC} not found; run from a checkout of the repository")
    jars = spark_jars()
    jar_cp = os.path.join(jars, "*")
    steps = [("repo", sources(REPO_SRC), jar_cp),
             ("bench", sources(BENCH_SRC), os.pathsep.join([os.path.join(OUT, "repo"), jar_cp]))]
    upstream = ""
    for name, files, cp in steps:
        dest = os.path.join(OUT, name)
        key = stamp(files) + upstream
        stamp_file = dest + ".stamp"
        if not (os.path.exists(stamp_file) and open(stamp_file).read() == key):
            shutil.rmtree(dest, ignore_errors=True)
            print(f"build: compiling {len(files)} {name} sources", file=sys.stderr, flush=True)
            scalac(jars, cp, dest, files)
            with open(stamp_file, "w") as fh:
                fh.write(key)
        upstream = key
    return os.pathsep.join([os.path.join(OUT, "bench"), os.path.join(OUT, "repo"), jar_cp])


if __name__ == "__main__":
    print(build())
