#!/usr/bin/env python3
"""Smoke check of the benchmark at tiny input sizes.

    python3 perfbench/smoke.py

Run from the repository root. For every workload in BENCHMARK.json:
  * an untraced and a traced run must pass their ground-truth checks and
    print exactly the end_to_end (untraced) or per_layer (traced) metrics
    of BENCHMARK.json, each with its unit, every value a finite number;
  * the input digest must repeat for the same seed and differ for another.
Exits non-zero on the first failure.
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(*args):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--size", "tiny", *args]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stdout[-3000:] + res.stderr[-3000:])
        raise SystemExit(f"smoke: {' '.join(args)} exited {res.returncode}")
    return json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    expect = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
              1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            out = run("--workload", w, "--seed", "1", "--seconds", "2", "--trace", str(trace))
            assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
            assert out["correct"] is True and out["attempted"] >= 1, (w, trace, out)
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            missing = sorted(set(expect[trace]) - set(got))
            extra = sorted(set(got) - set(expect[trace]))
            assert not missing and not extra, (w, trace, "missing", missing, "extra", extra)
            assert got == expect[trace], (w, trace, "units differ")
            for k, v in out["metrics"].items():
                assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), (w, k, v)
            print(f"ok {w} trace={trace}: {len(got)} metrics")
        d = [run("--workload", w, "--seed", s, "--seconds", "1", "--digest-only")["digest"]
             for s in ("1", "1", "2")]
        assert d[0] == d[1] != d[2], (w, d)
        print(f"ok {w} digest: seed 1 {d[0]} (repeats), seed 2 {d[2]}")


if __name__ == "__main__":
    main()
