#!/usr/bin/env python3
"""Benchmark entry point.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

The first call builds the library and the benchmark from source with sbt
(into the checkout's own build directories) and caches the resulting
class path in `.bench_build/`; later calls reuse it. Each run starts one
JVM that generates the workload's inputs from the seed, measures for the
given seconds, checks outputs, and prints one JSON object as the last
line of standard output. Generated data lives under `.bench_build/work`
and is deleted when the run ends.
"""
import argparse
import fcntl
import os
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
WORKLOADS = ("crawl", "dashboard")

# Spark 4 on JDK 17 needs these outside spark-submit (the same list the
# repository's build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Newest modification time over every source the build reads."""
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
                os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile with sbt once per source state; return the class path."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = str(sources_stamp())
        if os.path.exists(CLASSPATH):
            with open(CLASSPATH) as f:
                cached_stamp, cp = f.read().split("\n", 1)
            if cached_stamp == stamp:
                return cp.strip()
        log("building library and benchmark with sbt")
        t0 = time.time()
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=840)
        lines = [l for l in proc.stdout.splitlines() if l.strip()]
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stdout[-4000:])
            raise SystemExit("build failed")
        cp = lines[-1].strip()
        if os.pathsep not in cp and not cp.endswith(".jar"):
            sys.stderr.write(proc.stdout[-4000:])
            raise SystemExit("build printed no class path")
        with open(CLASSPATH, "w") as f:
            f.write(stamp + "\n" + cp)
        log(f"built in {time.time() - t0:.0f} s")
        return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds <= 0:
        raise SystemExit("--seconds must be positive")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("run from the root of a checkout: the library "
                         "sources (build.sbt, src/main/scala) are missing")
    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work}-tmp", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Bench",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work])
    os.makedirs(work + "-tmp", exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=170)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("benchmark run exceeded its time limit")
    finally:
        subprocess.run(["rm", "-rf", work, work + "-tmp"])
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"benchmark run failed (exit {proc.returncode})")
    for l in lines[:-1]:
        log(l)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
