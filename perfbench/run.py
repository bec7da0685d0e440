#!/usr/bin/env python3
"""Run one benchmark workload and print its JSON headline as the last line.

Usage (from the repository root):
  python3 perfbench/run.py --workload ingest_release|query_mix \\
      --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --selftest

Builds the repository and the benchmark on first use (perfbench/build.py),
then runs perfbench.Main in one JVM with Spark in local mode. Build output,
warehouses and the per-run records files live under .bench_build/perfbench/
(or $CARGO_TARGET_DIR/perfbench when that is set).
"""
import argparse
import fcntl
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # leave the checkout as it was
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["ingest_release", "query_mix"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    out = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR")
                                       or os.path.join(ROOT, ".bench_build")), "perfbench")
    os.makedirs(out, exist_ok=True)
    # runs share the build and the work directory: one at a time
    lock = open(os.path.join(out, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    classpath = build.build(out)
    work = os.path.join(out, "work")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    java = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    java += ["-cp", classpath + os.pathsep + os.path.join(build.spark_jars(), "*")]
    if a.selftest:
        java += ["perfbench.SelfTest", "--work", work]
    else:
        java += ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
                 "--expected", os.path.join(ROOT, "perfbench", "expected_catalog.tsv"),
                 "--data", os.path.join(ROOT, "perfbench", "data", "sf0.01")]

    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(java, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=work)
        try:
            stdout, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"perfbench: run exceeded {TIMEOUT_S} s (log: {log_path})")
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"perfbench: JVM exited with {proc.returncode} (log: {log_path})")
    lines = [l for l in stdout.splitlines() if l.strip()]
    if a.selftest:
        print("\n".join(lines))
        return
    if not lines or not lines[-1].startswith("{"):
        sys.exit(f"perfbench: no result line (log: {log_path})")
    print(lines[-1])


if __name__ == "__main__":
    main()
