#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 perfbench/smoke.py [workload ...]

For each workload: one tiny run must pass every output check and exit 0;
a second tiny run fed a deliberately wrong expectation for every check
must exit non-zero with each of those checks reported as failed.
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_pipeline", "stream_ingest", "query_stratum")


def run(workload, seed, wrong):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "0", "--tiny"]
    if wrong:
        cmd.append("--wrong")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    path = os.path.join(ROOT, ".bench_build", f"result-{workload}-{seed}-0.json")
    res = None
    if os.path.exists(path):
        with open(path) as f:
            res = json.load(f)
        os.remove(path)
    return p.returncode, res, p.stdout + p.stderr


def main():
    ok = True
    for w in sys.argv[1:] or WORKLOADS:
        code, res, out = run(w, 101, wrong=False)
        if code != 0 or res is None or not res["correct"]:
            print(f"FAIL {w}: clean tiny run did not pass (exit {code})\n{out}")
            ok = False
            continue
        checks = set(res["checks"])
        code, bad, out = run(w, 102, wrong=True)
        failed = set(bad["failed_checks"]) if bad else set()
        missed = checks - failed
        if code == 0 or bad is None or missed:
            print(f"FAIL {w}: wrong expectations not caught: "
                  f"exit {code}, uncaught {sorted(missed)}\n{out}")
            ok = False
            continue
        print(f"ok   {w}: {len(checks)} checks pass on a clean run and each "
              "fails on a wrong expectation")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
