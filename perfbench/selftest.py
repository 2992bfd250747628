#!/usr/bin/env python3
"""Steadiness test of the benchmark itself.

    python3 perfbench/selftest.py [workload ...]

Runs every workload (or the named ones) traced twice, with two seeds,
and asserts that the counts fixed by the plan repeat exactly between the
two runs. Within each run, perfbench/run.py already fails the run when
a pass's pool builds differ from the first pass's (every pass must start
cold) or when the two traced passes disagree on these counts.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
from run import REPEAT_KEYS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def traced(workload, seed):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        capture_output=True, text=True, check=True).stdout
    res = json.loads(out.strip().splitlines()[-1])
    assert res["correct"], f"{workload} seed {seed}:\n{out}"
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    bad = 0
    for w in sys.argv[1:] or list(WORKLOADS):
        a, b = traced(w, 1), traced(w, 2)
        for k in REPEAT_KEYS:
            ok = a[k] == b[k]
            bad += not ok
            print(f"{'ok  ' if ok else 'FAIL'} {w} {k}: {a[k]} {b[k]}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
