#!/usr/bin/env python3
"""graft benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload ingest_incremental --seed 1 \
        --seconds 12 --trace 0

Builds the harness (perfbench/build.py) on first use, runs one JVM for
the workload, and prints, as the last line of standard output, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are BENCHMARK.json's end_to_end list, with --trace 1 its
per_layer list. The exit status is non-zero when the build fails, the
JVM fails, or any correctness check fails. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORK_BASE = os.path.join(ROOT, ".bench_work")
JVM_TIMEOUT_S = 170
# what spark-submit passes to a JDK 17 driver (as build.sbt does)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    classes, jars = build.build()

    # the run's scratch: inputs, lake, Spark's local dirs; removed after
    work = os.path.join(WORK_BASE, "run-%s-%d" % (args.workload, os.getpid()))
    out = os.path.join(WORK_BASE, "out")  # run records, recorded input hashes
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out, exist_ok=True)
    cmd = (["java", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-XX:ReservedCodeCacheSize=256m", "-Xss4m",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.system.home=" + work]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
              "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out,
              "--hashes", os.path.join(out, "hashes", build.generator_digest())])
    # the JVM's own output (Spark's log included) goes to stderr, so the
    # result line below stays the last line of stdout
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            cwd=work, start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit("perfbench: the run exceeded %d s" % JVM_TIMEOUT_S)
    result = None
    result_path = os.path.join(work, "result.json")
    if os.path.exists(result_path):
        with open(result_path, encoding="utf-8") as f:
            result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        sys.exit("perfbench: the JVM exited %d without a result" % code)

    names = [m["name"] for m in
             spec["per_layer" if args.trace else "end_to_end"]]
    got = result["metrics"]
    if sorted(got) != sorted(names):
        sys.exit("perfbench: metric names differ from BENCHMARK.json: %s"
                 % sorted(set(got) ^ set(names)))
    if any(got[n]["value"] is None for n in names):
        sys.exit("perfbench: a metric has no value")
    for name in names:
        print("%-44s %16.6g %s" % (name, got[name]["value"], got[name]["unit"]))
    print(json.dumps(result))
    if code != 0 or not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
