#!/usr/bin/env python3
"""The repository benchmark. One run measures one workload:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the program from source (perfbench/build.py), generates the
inputs from the seed, checks every output, and prints each metric by
name and unit; the last stdout line is one JSON object
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. It exits 1 after
the result line when an output check failed, 2 on a usage error, and
non-zero without a result when the build or a benchmark JVM fails. See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["rq-pipe", "rq-convert", "sql-tpch", "loop-state"]

END_TO_END = {"setup_s": "s", "wall_s": "s", "mb_per_s": "MB/s",
              "op_p50_ms": "ms", "op_p90_ms": "ms", "cpu_s": "s",
              "peak_rss_mb": "MB"}

FORMATS = ["json", "msgpack", "cbor", "avro"]
SPAN_NAMES = ["op", "queries.build", "catalyst.plan", "exec.action",
              "sources.convert", "sched.job", "sched.stage",
              "streaming.batch"]
PER_LAYER = dict(
    [("cli.self_ms", "ms"), ("cli.run_ms", "ms")]
    + [(f"formats.decode_mb_s.{f}", "MB/s") for f in FORMATS]
    + [(f"formats.encode_mb_s.{f}", "MB/s") for f in FORMATS]
    + [("formats.records", "count"), ("formats.bytes_in", "bytes"),
       ("formats.bytes_out", "bytes"), ("formats.json_emit_ms", "ms"),
       ("formats.json_parse_ms", "ms"),
       ("sources.read_ms", "ms"), ("sources.write_ms", "ms"),
       ("sources.partitions", "count"), ("sources.task_skew", "ratio"),
       ("sources.boundary_share", "ratio"),
       ("queries.build_ms", "ms"), ("queries.build_jobs", "count"),
       ("queries.exec_ms", "ms"), ("queries.exec_jobs", "count"),
       ("queries.eager_share", "ratio"),
       ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
       ("catalyst.planning_ms", "ms"), ("catalyst.plan_nodes", "count"),
       ("sched.jobs", "count"), ("sched.stages", "count"),
       ("sched.tasks", "count"), ("sched.driver_gap_ms", "ms"),
       ("sched.empty_task_share", "ratio"),
       ("exec.cpu_s", "s"), ("exec.run_s", "s"), ("exec.gc_s", "s"),
       ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
       ("exec.spill_mb", "MB"), ("exec.output_rows", "count"),
       ("streaming.batches", "count"), ("streaming.batch_p50_ms", "ms"),
       ("streaming.empty_batch_share", "ratio"),
       ("streaming.state_rows", "count"),
       ("streaming.persisted_left", "count"),
       ("trace.overhead", "ratio")]
    + [(f"span.{n}.self_ms", "ms") for n in SPAN_NAMES])

# Corpus of the rq workloads: 2 x N shards (N = processors) of
# LARGE_RECORDS records each, plus one small file. See README.md for
# how these were sized.
LARGE_RECORDS = 3000
SMALL_RECORDS = 200
# Query tables: fixed scale and generator seed (the seed argument only
# orders the ops of these workloads).
TABLE_SF = 0.01
TABLE_SEED = 42
PIPE_PAIRS = [("msgpack", "json", "-m", "-J"), ("json", "msgpack", "-j", "-M"),
              ("cbor", "msgpack", "-c", "-M"), ("avro", "json", "-a", "-J")]
SETUP_REPS = 5
KEEP_CORPORA = 4
JVM_TIMEOUT_S = 170
# A fixed heap and young generation: with G1 sizing them adaptively,
# VmHWM (peak_rss_mb) of the same run spread 15-20% across seeds.
BENCH_HEAP = ["-Xms2g", "-Xmx2g", "-Xmn512m"]
LOG4J = os.path.join(HERE, "log4j2.properties")

ADD_OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_load():
    """CPU pressure (PSI `some avg10`) and the 1-minute loadavg, so that a
    run measured on a busy host identifies itself."""
    out = {}
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                if line.startswith("some"):
                    out["psi_cpu_some_avg10"] = float(
                        line.split()[1].split("=")[1])
    except OSError:
        pass
    try:
        with open("/proc/loadavg") as f:
            out["load1"] = float(f.read().split()[0])
    except OSError:
        pass
    return out


def cpu_jiffies():
    """(steal, total) CPU time of the whole machine so far, from
    /proc/stat: the share of steal over a run is the time the VM's
    processors were held by other guests of the host."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[7], sum(t)
    except (OSError, IndexError, ValueError):
        return 0, 0


class Ctx:
    def __init__(self, args):
        self.args = args
        self.build = build.build_dir()
        self.work = os.path.join(self.build, "work")
        self.data = os.path.join(self.build, "data")
        self.tmp = os.path.join(self.work, "tmp")
        self.home = os.path.join(self.work, "graft-home")
        # scratch of the previous run (stream inputs and sinks, spill)
        for d in (self.tmp, os.path.join(self.work, "spark-local")):
            shutil.rmtree(d, ignore_errors=True)
        for d in (self.work, self.data, self.tmp, self.home):
            os.makedirs(d, exist_ok=True)
        self.cp, self.stamp = build.build()
        self.cpus = len(os.sched_getaffinity(0))
        self.cds = None
        self.cds = self.class_archive()

    def jvm_flags(self, *memory):
        return list(memory) + [f"-Djava.io.tmpdir={self.tmp}",
                f"-Dgraft.system.dir={self.home}", "-Duser.timezone=UTC",
                "-cp", self.cp]

    def class_archive(self):
        """A class data sharing archive of the benchmark JVM's classes,
        dumped once per build. It roughly halves the JVM and first
        SparkSession start (12-15 s to 5-7 s on a busy 4-core host),
        which is most of a Spark run's fixed cost; timed passes run warm
        and do not depend on it. `graft.Cli` processes do not use it:
        their start-up is part of what `rq-pipe` measures."""
        d = os.path.join(self.build, "cds")
        path = os.path.join(d, f"bench-{self.stamp[:16]}.jsa")
        if not (os.path.exists(path) or os.path.exists(path + ".failed")):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            self.bench_jvm("archive", jvm=[f"-XX:ArchiveClassesAtExit={path}"],
                           work=self.work, cpus=self.cpus)
            if not os.path.exists(path):
                log("class data sharing archive not written; running without")
                open(path + ".failed", "w").close()
        return path if os.path.exists(path) else None

    def bench_jvm(self, mode, timeout=JVM_TIMEOUT_S, jvm=(), **kw):
        """Runs perfbench.Main in `mode`; returns its JSON result."""
        out = os.path.join(self.work, f"result-{mode}.json")
        if os.path.exists(out):
            os.remove(out)
        args = ["--mode", mode, "--out", out]
        for k, v in kw.items():
            args += ["--" + k.replace("_", "-"), str(v)]
        if self.cds:
            jvm = [f"-XX:SharedArchiveFile={self.cds}"]
        cmd = (["java"] + ADD_OPENS + list(jvm)
               + ["-Xlog:cds=off", "-Xlog:cds+dynamic=off",
                  "-Dspark.ui.enabled=false", f"-Dlog4j.configurationFile={LOG4J}"]
               + self.jvm_flags(*BENCH_HEAP) + ["perfbench.Main"] + args)
        launched_ms = time.time() * 1000
        if mode == "spark":
            cmd += ["--launched-ms", repr(launched_ms)]
        proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        if code != 0 or not os.path.exists(out):
            raise RuntimeError(f"perfbench.Main --mode {mode} exited {code}")
        with open(out) as f:
            return json.load(f)


def src_hash(*names):
    """Short hash of benchmark source files, to key cached inputs."""
    h = hashlib.sha256()
    for n in names:
        with open(os.path.join(HERE, n), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def corpus(ctx):
    """The seeded corpus, written once per seed (only the newest
    KEEP_CORPORA are kept, to bound disk use); returns (dir, per-shard
    record counts, summary)."""
    seed = ctx.args.seed
    shards = 2 * ctx.cpus
    name = (f"corpus-{seed}-{shards}x{LARGE_RECORDS}-{SMALL_RECORDS}-"
            f"{src_hash('src/Corpus.scala')}")
    d = os.path.join(ctx.work, name)
    summary = os.path.join(d, "summary.json")
    if not os.path.exists(summary):
        old = sorted((os.path.join(ctx.work, n) for n in os.listdir(ctx.work)
                      if n.startswith("corpus-")), key=os.path.getmtime)
        for o in old[:max(0, len(old) - KEEP_CORPORA + 1)]:
            shutil.rmtree(o)
        res = ctx.bench_jvm("corpus", dir=d, seed=seed, small=SMALL_RECORDS,
                            per_shard=",".join([str(LARGE_RECORDS)] * shards))
        with open(summary, "w") as f:
            json.dump(res, f)
    with open(summary) as f:
        s = json.load(f)
    return d, [LARGE_RECORDS] * shards, s


def tables(ctx):
    d = os.path.join(ctx.data, f"tables-sf{TABLE_SF}-seed{TABLE_SEED}-"
                     f"{src_hash('tables.py')}")
    if not os.path.exists(os.path.join(d, ".done")):
        import tables as gen
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, TABLE_SF, TABLE_SEED)
        open(os.path.join(d, ".done"), "w").close()
    return d


def expectations(ctx, workload, table_dir):
    """`name<TAB>digest<TAB>rows` of each entry's DuckDB oracle result,
    cached by the oracle SQL text and the table set."""
    sql_file = os.path.join(ctx.data, f"oracle-{workload}.json")
    stamp = ctx.stamp
    key_file = sql_file + ".stamp"
    if not (os.path.exists(sql_file) and os.path.exists(key_file)
            and open(key_file).read() == stamp):
        sql = ctx.bench_jvm("oracles", workload=workload)
        with open(sql_file, "w") as f:
            json.dump(sql, f, sort_keys=True)
        with open(key_file, "w") as f:
            f.write(stamp)
    with open(sql_file) as f:
        sql = json.load(f)
    key = hashlib.sha256((json.dumps(sql, sort_keys=True) + table_dir
                          + src_hash("tables.py")).encode()).hexdigest()[:16]
    tsv = os.path.join(ctx.data, f"expect-{workload}-{key}.tsv")
    if not os.path.exists(tsv):
        import tables as gen
        dig = gen.oracle_digests(table_dir, sql)
        with open(tsv + ".tmp", "w") as f:
            for n in sorted(dig):
                f.write(f"{n}\t{dig[n]['digest']}\t{dig[n]['rows']}\n")
        os.replace(tsv + ".tmp", tsv)
    return tsv


def percentile(xs, p):
    s = sorted(xs)
    r = p * (len(s) - 1)
    lo = int(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def run_rq_pipe(ctx):
    """One `graft.Cli` process per op, fed one corpus file on stdin.

    A pass runs each pair once on a large shard and twice on the small
    file, so the median op is a small-file op (JVM start dominates) and
    the 90th percentile a large-shard op (the codec dominates). Every
    op is a fresh JVM, so there is nothing to warm: the first pass is
    timed too. After the timed passes the JVM decodes the first output
    of each distinct op and compares it with the generator's records;
    every other op must have produced the same bytes.
    """
    cdir, per_shard, summary = corpus(ctx)
    small_shard = len(per_shard)
    cli = ["java"] + ctx.jvm_flags("-Xmx1g") + ["graft.Cli"]
    out_dir = os.path.join(ctx.work, "pipe-out")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    err_file = os.path.join(ctx.work, "pipe-stderr.txt")

    def spawn(args, stdin, stdout):
        with open(err_file, "wb") as err:
            t0 = time.perf_counter()
            p = subprocess.Popen(cli + args, stdin=stdin, stdout=stdout,
                                 stderr=err)
            try:
                _, status, ru = os.wait4(p.pid, 0)
            except BaseException:
                p.kill()
                p.wait()
                raise
            wall = time.perf_counter() - t0
        p.returncode = os.waitstatus_to_exitcode(status)
        with open(err_file, "rb") as err:
            return wall, ru, p.returncode, err.read().decode(errors="replace")

    setups = []
    for _ in range(SETUP_REPS):
        wall, _, code, err = spawn(["--version"], subprocess.DEVNULL,
                                   subprocess.DEVNULL)
        if code != 0:
            raise RuntimeError(f"graft.Cli --version exited {code}: {err}")
        setups.append(wall)

    ops = []
    for i, (fin, fout, a, b) in enumerate(PIPE_PAIRS):
        for shard, sub in ((i, ""), (small_shard, "small")):
            src = os.path.join(cdir, sub, fin, f"part-{shard:03d}.{fin}")
            ops.append({"label": f"{fin}->{fout}:{sub or 'large'}",
                        "src": src, "fout": fout, "args": [a, b],
                        "shard": shard, "bytes": os.path.getsize(src),
                        "small": bool(sub)})
    pass_ops = [k for k, op in enumerate(ops) for _ in range(1 + op["small"])]
    first = {}  # op -> output file kept for the generator check
    done = []

    def run_op(k, p):
        op = ops[k]
        keep = k not in first
        dst = os.path.join(out_dir, f"op{k}-{'check' if keep else 'last'}.{op['fout']}")
        with open(op["src"], "rb") as fi, open(dst, "wb") as fo:
            wall, ru, code, err = spawn(op["args"], fi, fo)
        log(f"pass {p} {op['label']} {wall * 1e3:.1f} ms")
        if code != 0:
            log(f"{op['label']} exited {code}: {err.strip()[:500]}")
        with open(dst, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        if keep:
            first[k] = dst
        t = {"op": k, "p": p, "wall": wall, "cpu": ru.ru_utime + ru.ru_stime,
             "rss_mb": ru.ru_maxrss / 1024, "ok": code == 0, "digest": digest}
        done.append(t)
        return t

    def one_pass(p):
        import random
        order = list(pass_ops)
        random.Random(ctx.args.seed * 31 + p).shuffle(order)
        return [run_op(k, p) for k in order]

    if not ctx.args.trace:
        # whole passes, started while time is left, as in the Spark
        # workloads
        deadline = time.perf_counter() + ctx.args.seconds
        times, p = one_pass(0), 1
        while time.perf_counter() < deadline:
            times += one_pass(p)
            p += 1
    else:
        untraced = sum(t["wall"] for t in one_pass(0)) * 1e3
        spans = [{"name": "op", "op": t["op"], "dur_ms": t["wall"] * 1e3}
                 for t in one_pass(1)]

    checks_file = os.path.join(ctx.work, "pipe-checks.tsv")
    with open(checks_file, "w") as f:
        for k, dst in sorted(first.items()):
            f.write(f"{dst}\t{ops[k]['fout']}\t{ops[k]['shard']}\n")
    small_ops = ";".join(" ".join([ops[k]["src"]] + ops[k]["args"])
                         for k in range(len(ops)) if ops[k]["small"])
    res = ctx.bench_jvm("rq-check", seed=ctx.args.seed, corpus=cdir,
                        checks=checks_file, trace=ctx.args.trace,
                        per_shard=",".join(map(str, per_shard + [SMALL_RECORDS])),
                        cli_ops=small_ops)
    wrong = 0
    good_digest = {}
    for k, dst in first.items():
        bad = res["mismatches"][dst]
        if bad:
            log(f"{ops[k]['label']}: {bad} records differ from the generator's")
            wrong += bad
        else:
            good_digest[k] = next(t["digest"] for t in done
                                  if t["op"] == k and t["ok"])
    failed = sum(1 for t in done
                 if not t["ok"] or t["digest"] != good_digest.get(t["op"]))
    info = {"records": summary["records"], "bytes": summary["bytes"],
            "small_bytes": summary["small_bytes"], "wrong_records": wrong}
    if not ctx.args.trace:
        # The median pass, as in the Spark workloads: each op's median
        # over the run, weighted by how often a pass runs it.
        def median_pass(key):
            return sum(pass_ops.count(k) * statistics.median(
                t[key] for t in times if t["op"] == k) for k in range(len(ops)))
        wall_s = median_pass("wall")
        lat = [t["wall"] * 1e3 for t in times]
        metrics = {
            "setup_s": statistics.median(setups),
            "wall_s": wall_s,
            "mb_per_s": sum(ops[k]["bytes"] for k in pass_ops) / 1e6 / wall_s,
            "op_p50_ms": percentile(lat, 0.5),
            "op_p90_ms": percentile(lat, 0.9),
            "cpu_s": median_pass("cpu"),
            "peak_rss_mb": max(t["rss_mb"] for t in times)}
        info.update(passes=p, ops_timed=len(lat), setup_runs_s=setups)
    else:
        traced = sum(s["dur_ms"] for s in spans)
        small_wall = [s["dur_ms"] for s in spans if ops[s["op"]]["small"]]
        metrics = dict(res["layers"])
        metrics["cli.self_ms"] = (sum(small_wall) / len(small_wall)
                                  - metrics["cli.run_ms"])
        metrics["trace.overhead"] = traced / untraced - 1
        metrics["span.op.self_ms"] = traced
        write_trace(ctx, spans)
    return len(done), failed, metrics, info


def write_trace(ctx, spans):
    d = os.path.join(ctx.work, "trace")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{ctx.args.workload}-{ctx.args.seed}.json"),
              "w") as f:
        json.dump(spans, f, indent=0)


def run_spark(ctx):
    w = ctx.args.workload
    kw = {}
    info = {}
    if w == "rq-convert":
        cdir, per_shard, summary = corpus(ctx)
        kw.update(corpus=cdir, per_shard=",".join(map(str, per_shard)))
        info.update(records=summary["records"], bytes=summary["bytes"])
    else:
        td = tables(ctx)
        kw.update(tables=td, expect=expectations(ctx, w, td))
    res = ctx.bench_jvm("spark", workload=w, seed=ctx.args.seed, cpus=ctx.cpus,
                        seconds=ctx.args.seconds, trace=ctx.args.trace,
                        work=ctx.work, **kw)
    info.update({k: res[k] for k in ("passes", "ops_timed", "wrong_records",
                                     "setup_runs_s") if k in res})
    metrics = res["layers"] if ctx.args.trace else res["metrics"]
    return res["attempted"], res["failed"], metrics, info


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(build.PROGRAM_SRC):
        sys.exit(f"perfbench: no program sources at {build.PROGRAM_SRC}")
    # SIGTERM unwinds like an error, so that the child processes are
    # killed and waited for on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    load_before = host_load()
    steal0, total0 = cpu_jiffies()
    ctx = Ctx(args)
    run = run_rq_pipe if args.workload == "rq-pipe" else run_spark
    attempted, failed, raw, info = run(ctx)
    load_after = host_load()
    steal1, total1 = cpu_jiffies()
    load_after["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)

    names = PER_LAYER if args.trace else END_TO_END
    metrics = {n: {"value": float(raw.get(n, 0.0)), "unit": u}
               for n, u in names.items()}
    correct = failed == 0
    artifact = {"workload": args.workload, "seed": args.seed,
                "trace": args.trace, "seconds": args.seconds,
                "host_load_before": load_before, "host_load_after": load_after,
                "elapsed_s": time.time() - t_start, "attempted": attempted,
                "failed": failed, "info": info, "metrics": metrics}
    runs = os.path.join(ctx.work, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"host load before {load_before} after {load_after}")
    for k, v in sorted(info.items()):
        print(f"  {k:<28} {v}")
    for n, m in metrics.items():
        print(f"  {n:<28} {m['value']:.6g} {m['unit']}")
    print(f"  {'fail_ratio':<28} {failed / max(1, attempted):.6g} "
          f"({failed} of {attempted} ops)")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
