#!/usr/bin/env python3
"""Build the benchmark with the Scala compiler that ships with the Spark
distribution (no sbt, no network), in two steps: the repository's main
sources into OUT_DIR/main, then perfbench/src against them into
OUT_DIR/bench.

Usage: python3 perfbench/build.py [OUT_DIR]

Each step is skipped while its sources are unchanged since its last build
(a digest of its source files is kept next to its classes), so a change to
the benchmark alone recompiles only the benchmark.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN_SOURCES = os.path.join(ROOT, "src", "main", "scala")
BENCH_SOURCES = os.path.join(ROOT, "perfbench", "src")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    """Directory of the Spark distribution's jars: $SPARK_HOME, else the first
    distribution on PATH (a spark-submit beside a jars/ directory)."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    sys.exit("perfbench: no Spark distribution with a Scala compiler found "
             "(set SPARK_HOME)")


def sources(d):
    if not os.path.isdir(d):
        sys.exit(f"perfbench: source directory {os.path.relpath(d, ROOT)} "
                 "is missing; run from a full checkout of the repository")
    found = sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not found:
        sys.exit(f"perfbench: no Scala sources under {os.path.relpath(d, ROOT)}")
    return found


def compile_step(name, srcs, out_dir, cp, upstream=""):
    """Compile SRCS into OUT_DIR/NAME unless they (and UPSTREAM, the digest
    of the step they build on) are unchanged; return (classes, digest)."""
    digest = hashlib.sha256(upstream.encode())
    for p in srcs:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    digest = digest.hexdigest()
    stamp = os.path.join(out_dir, name + ".sha256")
    classes = os.path.join(out_dir, name)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out_dir, name + "-sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp",
                    os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
                    "-nowarn", "-d", classes, "-cp", cp, "@" + argfile],
                   check=True, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, digest


def build(out_dir):
    """Build what is out of date; return the class path of the build."""
    jars = os.path.join(spark_jars(), "*")
    main, digest = compile_step("main", sources(MAIN_SOURCES), out_dir, jars)
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, main, dirs_exist_ok=True)
    bench, _ = compile_step("bench", sources(BENCH_SOURCES), out_dir,
                            main + os.pathsep + jars, upstream=digest)
    return bench + os.pathsep + main


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build", "perfbench")
    print(build(os.path.abspath(out)))
