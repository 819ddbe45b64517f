#!/usr/bin/env python3
"""Steadiness check: two alternating sets of runs of the same code.

Usage: python3 perfbench/steady.py [--workloads analyst,harvest]
           [--runs 10] [--seconds 20]

The workloads and the run length default to those of BENCHMARK.json.

Run i of set A uses seed 1+i and run i of set B seed 1001+i; within each
i the order of the two sets alternates, so machine drift falls on both.
For every workload and end-to-end metric it prints each set's median,
first and third quartile (statistics.quantiles, n=4), the spread
(Q3-Q1)/median, and the shift of set B's median against set A's,
together with the host reference loop (host.cpu_ref_s) and each set's
share of failed operations. The bounds in BENCHMARK.json are set from
this output. The full record goes to <build dir>/steady.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

METRICS = ("setup_s", "items_per_s", "latency_p50_s")


def one(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True, cwd=build.ROOT, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    detail = json.loads(lines[0])
    row = {k: v["value"] for k, v in result["metrics"].items()}
    row.update(seed=seed, attempted=result["attempted"], failed=result["failed"],
               host=detail["host.cpu_ref_s"])
    print(f"  {workload} seed {seed}: " + " ".join(f"{k}={row[k]:.4g}" for k in METRICS)
          + f" ops={row['attempted']} failed={row['failed']} host={row['host']:.3f}", flush=True)
    return row


def summary(vals):
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    med = statistics.median(vals)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def main():
    bench = json.load(open(os.path.join(build.ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    names = "AB"
    rows = {w: {s: [] for s in names} for w in workloads}
    for i in range(a.runs):
        order = names if i % 2 == 0 else names[::-1]
        for w in workloads:
            for s in order:
                rows[w][s].append(one(w, (1 if s == "A" else 1001) + i, a.seconds))
    report = {}
    print(f"\n{'workload':8s} {'metric':14s} " + " ".join(
        f"{s}:{'median':>10s} {'q1':>10s} {'q3':>10s} {'spread':>7s}" for s in names)
        + "  B/A-1")
    for w in workloads:
        report[w] = {}
        for m in METRICS + ("host",):
            sm = {s: summary([r[m] for r in rows[w][s]]) for s in names}
            report[w][m] = sm
            line = f"{w:8s} {m:14s} " + " ".join(
                f"  {sm[s]['median']:10.4g} {sm[s]['q1']:10.4g} {sm[s]['q3']:10.4g} {sm[s]['spread']:7.3f}"
                for s in names) + f"  {sm['B']['median'] / sm['A']['median'] - 1:+.3f}"
            print(line)
        shares = {s: sum(r["failed"] for r in rows[w][s]) / sum(r["attempted"] for r in rows[w][s])
                  for s in names}
        report[w]["failed_share"] = shares
        print(f"{w:8s} failed share " + " ".join(f"{s}={v:.4f}" for s, v in shares.items()))
    with open(os.path.join(build.build_dir(), "steady.json"), "w") as f:
        json.dump({"runs": rows, "summary": report, "seconds": a.seconds}, f, indent=1)


if __name__ == "__main__":
    main()
