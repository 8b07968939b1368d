#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--size tiny|full] [--digest-only]

Run from the repository root. The first run builds graft's sources together
with the benchmark runner (perfbench/build.sbt, offline sbt) and caches the
classpath under .bench_build/; later runs reuse it until a source changes.
The last line of standard output is the result JSON; records and spans are
written under .bench_build/out/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
GRAFT_SRC = os.path.join(ROOT, "src", "main")
RUN_LIMIT_S = 175
WORKLOADS = ("sem_pipeline", "corpus_curation", "retrieval_mixed")

# JVM settings of every run. A 1 GB minimum heap and 4 MB G1 regions: with
# the default ergonomics the heap shrank to ~300 MB after each operation's
# full GC and every buffer of 512 KB or more was a humongous allocation that
# started a GC cycle; five runs of one sem_pipeline seed then spread 0.19
# (interquartile range / median of items_per_s), and 0.02 with these.
JVM_OPTS = ["-Xms1g", "-Xmx3g", "-XX:+UseG1GC", "-XX:G1HeapRegionSize=4m"]
# sem_pipeline's CPU time is Spark's driver-side planning and scheduling,
# which C2 keeps compiling for over a minute of passes: under the default
# tiered JIT each timed pass ran faster than the one before (2.3 s to 1.8 s
# within 13 s), so the median depended on how many passes fitted. With C1
# alone the passes are flat from the first one, and as fast as C2's in that
# window. C1 needs a larger code cache than its 48 MB default: that filled
# after about ten passes, and the passes after it ran a third slower or more.
# The CPU-bound workloads keep C2.
WORKLOAD_JVM_OPTS = {
    "sem_pipeline": ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"],
}

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt's).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def source_files():
    roots = [GRAFT_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def build(digest):
    """Compile once per source digest; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file):
            with open(cp_file) as fh:
                stamp, cp = fh.read().split("\n", 1)
            if stamp == digest:
                return cp.strip()
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
               "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
               "compile", "export Runtime/fullClasspath"]
        res = subprocess.run(cmd, cwd=HERE, capture_output=True, text=True, timeout=880)
        if res.returncode != 0:
            sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
            raise SystemExit("perfbench: build failed")
        cp = res.stdout.strip().splitlines()[-1]
        with open(cp_file, "w") as fh:
            fh.write(digest + "\n" + cp + "\n")
        return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("tiny", "full"), default="full")
    ap.add_argument("--digest-only", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(GRAFT_SRC, "scala", "graft")):
        raise SystemExit("perfbench: graft's sources (src/main/scala/graft) are missing; "
                         "run from a full checkout of the repository")
    digest = source_digest()
    cp = build(digest)
    start = time.time()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_OPTS + WORKLOAD_JVM_OPTS.get(a.workload, [])
           + ["-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--size", a.size,
              "--out", os.path.join(BUILD, "out")]
           + (["--digest-only"] if a.digest_only else []))
    env = dict(os.environ, PERFBENCH_GIT_COMMIT=git_commit(), PERFBENCH_SOURCE_DIGEST=digest)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, env=env)
    result = None
    try:
        remaining = max(30.0, RUN_LIMIT_S - (time.time() - start)) if a.size == "full" else 600
        out, _ = proc.communicate(timeout=remaining)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: run exceeded its time limit")
    for line in out.splitlines():
        parsed = None
        if line.startswith("{"):
            try:
                parsed = json.loads(line)
            except ValueError:
                pass
        if isinstance(parsed, dict) and ("correct" in parsed or "digest" in parsed):
            result = line
        else:
            print(line)
    if result is None:
        raise SystemExit(f"perfbench: no result line (exit code {proc.returncode})")
    print(result, flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
