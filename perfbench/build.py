#!/usr/bin/env python3
"""Build the benchmark: compile graft's main sources together with the
harness under perfbench/src into one class directory.

The Scala compiler and every runtime dependency ship inside Spark's own
jar directory (the same directory the repository's build.sbt uses as its
unmanaged base), so the build needs neither sbt nor a dependency
resolver. The output is reused while no source file changes.

    python3 perfbench/build.py          # prints the class directory

Exit status is non-zero when graft's sources or the Scala compiler are
missing, or the compile fails.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")
SCALAC_FLAGS = ["-nowarn", "-encoding", "UTF-8"]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanagedBase
    that build.sbt declares."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: Spark jars not found (set SPARK_HOME)")


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                          "*.scala"), recursive=True))
    if not graft:
        raise SystemExit("build: graft sources (src/main/scala) not found")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                             recursive=True))
    if not bench:
        raise SystemExit("build: harness sources (perfbench/src) not found")
    return graft + bench


def generator_digest():
    """Digest of the harness sources alone: recorded input hashes are
    kept per harness version, so a deliberate generator change starts a
    fresh record while a change to graft itself does not."""
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                              recursive=True)):
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def digest(files, jars):
    h = hashlib.sha256()
    h.update(" ".join(SCALAC_FLAGS).encode())
    h.update(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("build: no scala-compiler jar in " + jars)
    files = sources()
    want = digest(files, jars)
    os.makedirs(BUILD_DIR, exist_ok=True)
    # one build at a time per checkout; a waiting run reuses its result
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(CLASSES) and os.path.exists(STAMP):
            with open(STAMP) as f:
                if f.read().strip() == want:
                    return CLASSES, jars
        compile_into(files, jars)
        with open(STAMP, "w") as f:
            f.write(want + "\n")
    return CLASSES, jars


def compile_into(files, jars):
    staging = CLASSES + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w", encoding="utf-8") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + BUILD_DIR,
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-d", staging] + SCALAC_FLAGS + ["@" + argfile]
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        raise SystemExit("build: scalac failed (exit %d)" % proc.returncode)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)


if __name__ == "__main__":
    print(build()[0])
