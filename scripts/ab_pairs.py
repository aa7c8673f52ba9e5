#!/usr/bin/env python3
"""Run the perfbench A/B of a change against its parent as alternating pairs.

    python3 scripts/ab_pairs.py --parent DIR --change DIR --name NAME \
        [--workloads rq-convert,rq-pipe] [--pairs 10] [--seed0 5101] \
        [--seconds 5] [--trace 0] [--what TEXT]

`--parent` and `--change` are two source trees, each with its own
`perfbench/run.py` (make the parent with `git archive <rev> | tar -x -C
DIR`). Pair i runs seed `seed0 + i` in both trees: parent first on even
pairs, change first on odd ones. Each tree builds into its own
`<tree>/.bench_build` (`CARGO_TARGET_DIR`), so neither arm reuses the
other's classes.

The record goes to `bench_sessions/<NAME>.json` of the repository holding
this script and is rewritten after every run, so a cut-short A/B keeps
its finished pairs. Per workload it holds every run's last-line JSON with
its seed, its order in the pair and the host-load stamp of its run
artifact, and per metric the median and interquartile range of each arm,
the change/parent ratio of the medians, and the pairs the change won
(by the metric's `better` direction in `BENCHMARK.json`).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def directions():
    """metric name -> "lower" | "higher", from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"]
            for m in bench["end_to_end"] + bench["per_layer"]}


def run_once(tree, workload, seed, seconds, trace):
    """One `perfbench/run.py` run in `tree`: its last-line JSON plus the
    host-load stamp of its run artifact (or an error record)."""
    build = os.path.join(os.path.abspath(tree), ".bench_build")
    env = dict(os.environ, CARGO_TARGET_DIR=build)
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=tree, env=env, capture_output=True,
                       text=True, timeout=3600)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return {"seed": seed, "returncode": p.returncode,
                "error": p.stderr.strip().splitlines()[-5:]}
    res["seed"] = seed
    res["elapsed_s"] = round(time.time() - t0, 1)
    artifact = os.path.join(build, "work", "runs",
                            f"{workload}-seed{seed}-trace{trace}.json")
    try:
        with open(artifact) as f:
            a = json.load(f)
        res["host_before"] = a.get("host_load_before")
        res["host_after"] = a.get("host_load_after")
    except (OSError, ValueError):
        pass
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(parent, change, better):
    """Per metric: medians, IQRs, ratio and pairs won by the change."""
    ok = [(p, c) for p, c in zip(parent, change)
          if p.get("correct") and c.get("correct")]
    out = {}
    if not ok:
        return out
    for name in ok[0][0]["metrics"]:
        ps = [p["metrics"][name]["value"] for p, _ in ok]
        cs = [c["metrics"][name]["value"] for _, c in ok]
        sign = -1 if better.get(name, "lower") == "lower" else 1
        pm, cm = statistics.median(ps), statistics.median(cs)
        pq, cq = quartiles(ps), quartiles(cs)
        out[name] = {
            "better": better.get(name, "lower"),
            "parent_median": pm, "parent_iqr": pq[1] - pq[0],
            "change_median": cm, "change_iqr": cq[1] - cq[0],
            "ratio": cm / pm if pm else None,
            "pairs_won": sum(1 for p, c in zip(ps, cs)
                             if sign * (c - p) > 0),
            "pairs": len(ok)}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", default=ROOT)
    ap.add_argument("--name", required=True)
    ap.add_argument("--workloads", default="rq-convert")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=5101)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--what", default="")
    args = ap.parse_args()
    better = directions()
    dest = os.path.join(ROOT, "bench_sessions", f"{args.name}.json")
    # the trees are local directories: the record names only their role
    how = (f"python3 scripts/ab_pairs.py --parent <parent> --change . "
           f"--name {args.name} --workloads {args.workloads} "
           f"--pairs {args.pairs} --seed0 {args.seed0} "
           f"--seconds {args.seconds:g} --trace {args.trace}")
    record = {"what": args.what, "how": how, "host_cpus": os.cpu_count()}
    trees = {"parent": args.parent, "change": args.change}
    for w in args.workloads.split(","):
        arms = {"parent": [], "change": []}
        record[w] = arms
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = ("parent", "change") if i % 2 == 0 else \
                ("change", "parent")
            for arm in order:
                print(f"[ab] {w} pair {i + 1}/{args.pairs} seed {seed} "
                      f"{arm}", file=sys.stderr, flush=True)
                res = run_once(trees[arm], w, seed, args.seconds,
                               args.trace)
                res["first"] = order[0]
                arms[arm].append(res)
            arms["summary"] = summarize(arms["parent"], arms["change"],
                                        better)
            with open(dest, "w") as f:
                json.dump(record, f, indent=1)
        for name, s in arms.get("summary", {}).items():
            ratio = "n/a" if s["ratio"] is None else f"{s['ratio']:.3f}"
            print(f"{w:<11} {name:<32} parent {s['parent_median']:.4g} "
                  f"(IQR {s['parent_iqr']:.3g})  change "
                  f"{s['change_median']:.4g}  ratio {ratio}  "
                  f"won {s['pairs_won']}/{s['pairs']}")
    print(f"[ab] wrote {dest}", file=sys.stderr)


if __name__ == "__main__":
    main()
