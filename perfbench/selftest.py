#!/usr/bin/env python3
"""Self-test of the output checks: each workload runs once with one output
row of one timed operation corrupted before it is checked, and the run
must count exactly the operations that carry that row as failed and
report `correct` false.

Usage: python3 perfbench/selftest.py [--seconds 1]

analyst corrupts a row of the first sampled query's checked result, so
that query's two operations in every round fail; curate corrupts the first
timed operation's stage report; harvest the first timed beat's tasks.
Exits non-zero when a corruption goes uncounted.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=float, default=1)
    a = ap.parse_args()
    bad = 0
    for w in ("analyst", "curate", "harvest"):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", "1", "--seconds", str(a.seconds), "--corrupt", "1"],
                           capture_output=True, text=True, timeout=900)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"{w}: run failed\n{p.stderr[-2000:]}")
            bad += 1
            continue
        result, detail = json.loads(lines[-1]), json.loads(lines[0])
        expect = 2 * detail["rounds"] if w == "analyst" else 1
        ok = result["failed"] == expect and result["correct"] is False
        bad += not ok
        print(f"{w}: {'ok' if ok else 'FAIL'}  failed {result['failed']} of {result['attempted']}"
              f" (expected {expect}), correct {result['correct']}; reasons: {detail['failures']}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
