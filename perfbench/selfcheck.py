"""Exact-count self-check of the traced runs.

    python3 perfbench/selfcheck.py --seed 1 --seconds 6

Runs the traced get_mix and the traced registry_slice twice each with one
seed. The counts below do not depend on timing or host load, so both runs
of a workload must report identical values; a mismatch is a defect of the
benchmark. Exits 1 on a mismatch.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def exact(workload):
    if workload == "get_mix":
        return ["spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
                "scan.files_per_get", "scan.rows_per_result", "engine.store.files"]
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    return [m["name"] for m in spec["per_layer"]
            if m["name"].startswith("registry.") and m["name"].endswith((".jobs", ".tasks"))]


def traced_run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    a = ap.parse_args()
    ok = True
    for workload in ("get_mix", "registry_slice"):
        first = traced_run(workload, a.seed, a.seconds)
        second = traced_run(workload, a.seed, a.seconds)
        for name in exact(workload):
            x, y = first[name]["value"], second[name]["value"]
            same = x == y
            ok &= same
            print(f"{workload:15s} {name:36s} {x!r:>20} {y!r:>20} {'same' if same else 'DIFFERENT'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
