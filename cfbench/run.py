#!/usr/bin/env python3
"""Runs one workload of the columnfile storage benchmark.

    python3 cfbench/run.py --workload scan_wide --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark from source on first use (see
build.py), runs the workload in one JVM with a `local[4]` Spark session,
and prints the JVM's report followed by the result as the last line of
stdout. All scratch data lives under `.bench_build/work` and is removed
when the run ends; a traced run leaves its spans under
`.bench_build/traces`.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import build

WORKLOADS = ("scan_wide", "scan_many_files")
# A run, build excluded, ends within 180 s.
RUN_TIMEOUT_S = 170
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
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    try:
        classes = build.build()
        jars = build.spark_jars()
        java = build.java()
    except build.BuildError as e:
        sys.exit("cfbench: build failed: %s" % e)

    work = os.path.join(build.BUILD_DIR, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(build.BUILD_DIR, "traces", "%s-seed%d.jsonl" % (a.workload, a.seed))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss4m",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties")]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "cfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--trace-out", trace_out]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def stop(reason):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit("cfbench: " + reason)

    signal.signal(signal.SIGTERM, lambda *_: stop("interrupted"))
    signal.signal(signal.SIGINT, lambda *_: stop("interrupted"))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop("run exceeded %d s" % RUN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(out)
        sys.exit("cfbench: run failed (exit code %d)" % proc.returncode)
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
