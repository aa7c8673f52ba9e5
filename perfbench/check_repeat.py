#!/usr/bin/env python3
"""Exact-counter repeatability test: two traced runs with the same seed
must report identical work counters, on every workload given.

    python3 perfbench/check_repeat.py [--seed N] [workload ...]

Count-based claims (jobs saved, records decoded, batches run) rest on
these counters repeating exactly. Exits 1 and names the counter when
one differs.
"""
import argparse
import json
import os
import subprocess
import sys

EXACT = ["formats.records", "formats.bytes_in", "formats.bytes_out",
         "sources.partitions", "queries.build_jobs", "sched.jobs",
         "sched.stages", "sched.tasks", "streaming.batches"]
RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def traced(workload, seed):
    p = subprocess.run([sys.executable, RUN, "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", "1"],
                       stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload}: traced run exited {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*",
                    default=["rq-pipe", "rq-convert", "sql-tpch", "loop-state"])
    args = ap.parse_args()
    bad = 0
    for w in args.workloads:
        a, b = traced(w, args.seed), traced(w, args.seed)
        for name in EXACT:
            va, vb = a[name]["value"], b[name]["value"]
            ok = va == vb
            bad += not ok
            print(f"{'ok ' if ok else 'DIFF'} {w:<11} {name:<22} {va:g} {vb:g}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
