#!/usr/bin/env python3
"""Smoke run of every workload on the sf0.001 tables, untraced and traced.

    python3 perfbench/tests/smoke.py

Checks that each run exits 0, reports correct results, and prints exactly
the metrics BENCHMARK.json declares for its mode. Takes a few minutes."""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

from pbench import workloads  # noqa: E402


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"] for m in spec["end_to_end"]},
            1: {m["name"] for m in spec["per_layer"]}}
    data = os.path.join(ROOT, "perfbench", "data", "sf0.001")
    bad = []
    for w in sorted(workloads.WORKLOADS):
        for trace in (0, 1):
            r = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w,
                 "--seed", "7", "--seconds", "1", "--trace", str(trace),
                 "--data", data],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = r.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, ValueError):
                res = None
            ok = (r.returncode == 0 and res is not None and res["correct"]
                  and res["failed"] == 0 and res["attempted"] >= 1
                  and set(res["metrics"]) == want[trace])
            print(f"{'ok  ' if ok else 'FAIL'} {w} trace={trace}", flush=True)
            if not ok:
                bad.append(w)
                sys.stderr.write(r.stderr[-3000:] + "\n")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
