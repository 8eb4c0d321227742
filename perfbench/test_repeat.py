#!/usr/bin/env python3
"""Repeatability self-check: two traced runs at one seed must give identical
load-independent counts.

    python3 perfbench/test_repeat.py [workload ...]

Run from the repository root. Lists every count that does not repeat
exactly and exits nonzero if any does. Each traced run's full report is kept
in `.bench_build/repeat-<workload>-<1|2>.txt`.
"""
import json
import os
import subprocess
import sys

COUNTS = ["scheduler.jobs", "scheduler.stages", "scheduler.tasks", "shuffle.records",
          "stream.batches", "sources.partitions", "pipeline.output_rows"]
SEED = 1


def traced(workload, i):
    r = subprocess.run([sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
                        "--workload", workload, "--seed", str(SEED), "--seconds", "1",
                        "--trace", "1"], stdout=subprocess.PIPE, text=True)
    with open(f".bench_build/repeat-{workload}-{i}.txt", "w") as f:
        f.write(r.stdout)
    if r.returncode != 0:
        sys.exit(f"{workload}: traced run exited with {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1])["metrics"]


def main():
    workloads = sys.argv[1:] or ["etl_snapshot", "queries"]
    bad = []
    for w in workloads:
        a, b = traced(w, 1), traced(w, 2)
        for k in COUNTS:
            x, y = a[k]["value"], b[k]["value"]
            same = x == y
            print(f"{w:14s} {k:22s} {x:14.1f} {y:14.1f} {'same' if same else 'DIFFERS'}")
            if not same:
                bad.append(f"{w} {k}")
    if bad:
        print("counts that do not repeat exactly: " + ", ".join(bad))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
