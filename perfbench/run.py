#!/usr/bin/env python3
"""Selector-fit benchmark command.

    python3 perfbench/run.py --workload <paper_fit|sparse_text>
        --seed <n> --seconds <s> --trace <0|1> [--smoke] [--corrupt-expected]

Run from the root of a checkout. Builds the engine and the benchmark from
source (perfbench/build.py), then runs one JVM that sees half of the
host's cores (local[nproc/2]: the other half absorbs the JVM's own GC, JIT
and driver threads and the rest of the host), sets up the workload, checks
every op's output against a reference greedy and prints one result JSON
object as the last line of stdout. Everything it writes stays under
.bench_build/; the spans of a traced run are kept in .bench_build/trace/. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 165
WORKLOADS = ("paper_fit", "sparse_text")

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
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
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes, for the benchmark's own tests")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="break the expected path: every op must fail")
    args = ap.parse_args()

    classes = build.build()
    work = os.path.join(build.ROOT, ".bench_build", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    host_cpus = os.cpu_count() or 1
    jvm_cpus = max(1, host_cpus // 2)
    classpath = [classes, os.path.join(build.spark_jars(), "*")]
    resources = os.path.join(build.ROOT, "src", "main", "resources")
    if os.path.isdir(resources):
        classpath.insert(1, resources)
    cmd = ["java", "-Xms3g", "-Xmx3g", f"-XX:ActiveProcessorCount={jvm_cpus}",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "graft.perfbench.FitBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work-dir", work, "--host-cpus", str(host_cpus)]
    if args.smoke:
        cmd.append("--smoke")
    if args.corrupt_expected:
        cmd.append("--corrupt-expected")

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            cwd=build.ROOT)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        sys.exit(f"perfbench: run exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        sys.exit(f"perfbench: benchmark JVM exited with {proc.returncode}")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    print("\n".join(lines))


if __name__ == "__main__":
    main()
