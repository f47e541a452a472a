#!/usr/bin/env python3
"""Counter-determinism self-check for the benchmark.

    python3 perfbench/selfcheck.py [--seed N] [workload ...]

Runs the traced benchmark twice on one seed for each workload (all of them
by default) and requires the host-independent counters to be identical:
scheduler.*, shuffle.*_bytes, codegen.compiles and algorithms.*.iterations.
These counters are the benchmark's primary regression signal, so they must
repeat exactly before a change in them can be read as a change in the
program. Exits 1 and names the counters that differ otherwise.
"""
import argparse
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DETERMINISTIC = re.compile(
    r"^(scheduler\..*|shuffle\..*_bytes|codegen\.compiles|algorithms\..*\.iterations)$")


def traced_counters(workload, seed):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    if not result["correct"]:
        sys.exit(f"{workload}: traced run failed its output checks")
    return {k: v["value"] for k, v in result["metrics"].items() if DETERMINISTIC.match(k)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = a.workloads or [w["name"] for w in json.load(fh)["workloads"]]
    bad = 0
    for w in names:
        first, second = traced_counters(w, a.seed), traced_counters(w, a.seed)
        diff = sorted(k for k in first if first[k] != second.get(k))
        for k in diff:
            print(f"{w}: {k} differs: {first[k]} vs {second.get(k)}")
        print(f"{w}: {len(first) - len(diff)}/{len(first)} counters repeat exactly")
        bad += len(diff)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
