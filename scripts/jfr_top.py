#!/usr/bin/env python3
"""Print the hottest frames of a JFR recording's execution samples.

    python3 scripts/jfr_top.py REC.jfr [--thread SUBSTR]

Reads the `jdk.ExecutionSample` events through `jfr print --json` (the
JDK's own tool, found next to the running `java` or on PATH) and prints
two tables of the `TOP` (25) hottest frames, each as `Class.method` with
its share of the samples:

- self: the top frame of each sample, where the CPU was;
- inclusive: every frame on the stack, counted once per sample, which
  gives the share of time spent under a method.

`--thread` keeps only samples of threads whose name contains SUBSTR
(Spark's executor threads are named `Executor task launch worker ...`).
`jfr print` keeps `DEPTH` (64) frames of each stack; a frame only
reached below them does not count as inclusive.
"""
import argparse
import collections
import json
import os
import shutil
import subprocess
import sys

TOP = 25
DEPTH = 64


def jfr_tool():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "jfr")):
        return os.path.join(home, "bin", "jfr")
    found = shutil.which("jfr")
    if not found:
        sys.exit("jfr_top: no `jfr` tool in $JAVA_HOME/bin or on PATH")
    return found


def frame_name(f):
    m = f.get("method") or {}
    cls = (m.get("type") or {}).get("name", "?")
    return f"{cls}.{m.get('name', '?')}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--thread", default=None)
    a = ap.parse_args()

    out = subprocess.run(
        [jfr_tool(), "print", "--json", "--stack-depth", str(DEPTH),
         "--events", "jdk.ExecutionSample", a.recording],
        check=True, capture_output=True, text=True).stdout
    events = json.loads(out)["recording"]["events"]

    self_counts = collections.Counter()
    incl_counts = collections.Counter()
    n = 0
    for e in events:
        v = e.get("values", {})
        thread = (v.get("sampledThread") or {}).get("javaName") or ""
        if a.thread and a.thread not in thread:
            continue
        frames = (v.get("stackTrace") or {}).get("frames") or []
        if not frames:
            continue
        n += 1
        names = [frame_name(f) for f in frames]
        self_counts[names[0]] += 1
        incl_counts.update(set(names))

    where = f" on threads matching {a.thread!r}" if a.thread else ""
    print(f"{n} execution samples{where}")
    if n == 0:
        return
    for title, counts in (("self", self_counts), ("inclusive", incl_counts)):
        print(f"\n{title}:")
        for name, c in counts.most_common(TOP):
            print(f"  {100.0 * c / n:5.1f}%  {c:6d}  {name}")


if __name__ == "__main__":
    main()
