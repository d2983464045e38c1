"""Product-path benchmark of unitdbspark: one command, one workload per run.

    python3 perfbench/run.py --workload get_mix --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark from source (see build.py), then runs
the workload in one JVM. Every metric is printed by name with its unit and
sample count; the last stdout line is the JSON result. Scratch files live in
perfbench/.work and are removed when the run ends.
"""

import argparse
import os
import shutil
import subprocess
import sys
import time

import build

WORKLOADS = ("get_mix", "publish_wire", "registry_slice")

# get_mix runs the serial collector from a 1 GB heap. With the default G1
# growing from 256 MB, get latency kept falling through the window as the
# heap grew, and five to ten seeds spread 17-21%; with a 1 GB start and G1,
# 17%; with the serial collector too, 7-18%. publish_wire keeps G1: its
# put buffer holds tens of thousands of messages, and under the serial
# collector its spread rose from 5% to 21%.
GC = {
    "get_mix": ["-Xms1g", "-XX:+UseSerialGC"],
    "publish_wire": [],
    "registry_slice": [],
}

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the same list the repository's build.sbt passes to tests).
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
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.build()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(build.HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
        # C1 only: a get or a registry query is mostly Spark driver code
        # (planning, scheduling), which C2 is still compiling a minute into
        # a run (about 2 of 4 cores' worth during a get_mix window), so a
        # window would time that compile storm rather than the program. C1
        # code settles within the warm-up.
        "-XX:TieredStopAtLevel=1",
        *GC[a.workload],
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.local.dir=" + os.path.join(work, "tmp"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "tmp"),
        "-cp", classpath, "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cpus", str(cpus), "--work", work,
        "--spec", os.path.join(build.ROOT, "BENCHMARK.json"),
    ]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    start = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=work, env=env)
    try:
        code = proc.wait(timeout=170)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: JVM exceeded 170 s after {time.monotonic() - start:.0f} s",
              file=sys.stderr)
        code = 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
