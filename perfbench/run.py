#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload <xml_scan|curate|incremental> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (see build.py), then runs
perfbench.Main in one JVM with Spark in local mode on every available core.
Inputs, Spark scratch space and result/trace files live under .bench_work/
in the repository root. The last stdout line is one JSON object with the
keys correct, attempted, failed and metrics.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("xml_scan", "curate", "incremental")
JVM_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_command(args, classes, work, cores, extra=()):
    here = os.path.dirname(os.path.abspath(__file__))
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    return (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"] + opens + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(here, "log4j2.properties"),
        "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--cores", str(cores),
        # the build id: the hash of the sources, the name of the class
        # directory's parent
        "--build", os.path.basename(os.path.dirname(classes))] + list(extra))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--gen-only", action="store_true",
                    help="write the inputs, print their checksum, exit")
    args = ap.parse_args()

    classes = build.build()
    work = os.path.join(build.ROOT, ".bench_work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = java_command(args, classes, work, cores,
                       ["--gen-only"] if args.gen_only else [])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):  # never leave the JVM behind
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: run exceeded {JVM_TIMEOUT_S} s")
    sys.stdout.write(out)
    if proc.returncode != 0:
        sys.exit(f"perfbench: benchmark JVM exited with {proc.returncode}")
    if not args.gen_only:
        last = json.loads(out.strip().splitlines()[-1])
        assert set(last) == {"correct", "attempted", "failed", "metrics"}, last


if __name__ == "__main__":
    main()
