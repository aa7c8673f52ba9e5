#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (`src/main/scala`)
and the benchmark (`perfbench/src`) from source with the Scala compiler
that ships among the Spark jars, and prints the runtime classpath.

    python3 perfbench/build.py

Classes go to `<build>/classes/{program,bench}.jar` (the program jar
also holds `src/main/resources`), where `<build>` is `$CARGO_TARGET_DIR`
or `.bench_build` under the repository root. A stamp holding the hash of
the sources skips an up-to-date build. The Spark jar directory is
`$SPARK_JARS`, else the `unmanagedBase` that `build.sbt` names, else
`$SPARK_HOME/jars`.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def _sources(root, ext):
    return sorted(glob.glob(os.path.join(root, "**", f"*{ext}"),
                            recursive=True))


def _stamp(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _scalac(jars, out, classpath, sources):
    compiler = [os.path.join(jars, n) for n in os.listdir(jars)
                if re.match(r"scala-(compiler|library|reflect)-.*\.jar$", n)]
    if len(compiler) != 3:
        sys.exit(f"build: no Scala compiler among the jars in {jars}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = out + ".args"
    with open(args_file, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath, "@" + args_file]
    res = subprocess.run(cmd, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        sys.exit(f"build: compiling into {out} failed")


def _jar(jar, *dirs):
    """Zips class and resource directories into `jar`: the JVM's class
    data sharing archive (see run.py) only covers classes from jars."""
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d in dirs:
            for p in _sources(d, ""):
                if os.path.isfile(p):
                    z.write(p, os.path.relpath(p, d))
    os.replace(jar + ".tmp", jar)


def build():
    """Compiles what changed; returns the runtime classpath and a stamp
    of everything on it that was built."""
    jars = spark_jars()
    if not os.path.isdir(jars):
        sys.exit(f"build: Spark jar directory {jars!r} not found")
    classes = os.path.join(build_dir(), "classes")
    program = os.path.join(classes, "program")
    bench = os.path.join(classes, "bench")
    spark = sorted(os.path.join(jars, n) for n in os.listdir(jars)
                   if n.endswith(".jar"))
    prog_src = _sources(PROGRAM_SRC, ".scala")
    bench_src = _sources(BENCH_SRC, ".scala")
    if not prog_src:
        sys.exit(f"build: no program sources under {PROGRAM_SRC}")
    resources = [p for p in _sources(RESOURCES, "") if os.path.isfile(p)]
    prog_stamp = _stamp(prog_src + resources)
    bench_stamp = _stamp(prog_src + resources + bench_src)
    for out, sources, cp, extra, stamp in (
            (program, prog_src, spark, [RESOURCES], prog_stamp),
            (bench, bench_src, [program + ".jar"] + spark, [], bench_stamp)):
        stamp_file = out + ".stamp"
        if os.path.exists(stamp_file) and os.path.exists(out + ".jar"):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    continue
        _scalac(jars, out, os.pathsep.join(cp), sources)
        _jar(out + ".jar", out, *extra)
        shutil.rmtree(out)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return os.pathsep.join([bench + ".jar", program + ".jar"] + spark), \
        bench_stamp


if __name__ == "__main__":
    print(build()[0])
