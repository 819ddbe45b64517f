#!/usr/bin/env python3
"""Regenerates perfbench/analyst_pool.json, the query pool the analyst
workload samples from.

Usage: python3 perfbench/make_pool.py

Runs every registry query once at the benchmark's scale in one JVM (the
`sweep` pass, each result written as parquet), then runs each query's
DuckDB oracle with a time limit and compares the two results. A query
enters the pool only when it has an oracle and the oracle finishes
within ORACLE_LIMIT_S. Every other query is listed under `excluded` with
its reason. A query whose result disagrees with its
oracle is a fault of the engine: it is put at the head of the sample, so
each run counts it as failed in the same share.

The analyst sample comes from the cheapest SAMPLE_SHARE of the pool by
sweep time, cut into N_STRATA equal slices: it is the median query of
each slice. The slowest third is left out of the sample so that a run
fits the benchmark's time budget: with slices over the whole pool the
sample's slowest query took 3-3.6 s in a run, the cold check pass 25 s,
and an analyst run 67-80 s instead of about 40 s, which puts the
benchmark's runs over an hour. (Samples drawn per seed, one query per
slice, spread 25-32% across seeds in items_per_s and latency_p50_s: six
queries are too few to average out which six they are. So the sample is
fixed; perfbench/README.md has the measurements.)
"""
import json
import os
import time

import run

ORACLE_LIMIT_S = 10
SAMPLE_SHARE = 2 / 3
N_STRATA = 6


def main():
    classes = run.build.build()
    out = os.path.join(run.build.build_dir(), "sweep")
    run.shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    _, rec = run.run_jvm("sweep", 1, 0, False, out, classes, [], timeout=3600)
    run.ORACLE_TIMEOUT_S = ORACLE_LIMIT_S
    db = run.Oracle()
    for t in run.TABLES:
        db.view(t, os.path.join(run.DATA, f"{t}.parquet"))
    excluded, faults, timed = {}, [], []
    for w in rec["warmup"]:
        q = w["op"]
        if q not in rec["oracle"]:
            excluded[q] = "no oracle"
            continue
        if "error" in w:
            excluded[q] = f"engine error: {w['error'][:160]}"
            continue
        t0 = time.perf_counter()
        try:
            ocols, orows = db.rows(rec["oracle"][q])
        except Exception as e:
            excluded[q] = (f"oracle exceeded {ORACLE_LIMIT_S}s" if "nterrupt" in type(e).__name__
                           else f"oracle error: {str(e)[:160]}")
            continue
        oracle_s = time.perf_counter() - t0
        scols, srows = db.rows(f"SELECT * FROM {run.parquet(os.path.join(out, 'results', q))}")
        if not run.same_rows(srows, scols, orows, ocols):
            faults.append(q)
            continue
        timed.append((w["t_s"], q, oracle_s))
    write_pool(rec["cores"], timed, excluded, faults)


def write_pool(cores, timed, excluded, faults):
    """timed: (sweep seconds, query, oracle seconds) of every pool query."""
    timed = sorted(timed)
    cheap = timed[:int(len(timed) * SAMPLE_SHARE)]
    n = len(cheap)
    strata = [[q for _, q, _ in cheap[i * n // N_STRATA:(i + 1) * n // N_STRATA]] for i in range(N_STRATA)]
    sample = faults + [s[len(s) // 2] for s in strata]
    pool = {
        "command": "python3 perfbench/make_pool.py",
        "data": os.path.basename(run.DATA), "heap": run.HEAP, "cores": cores,
        "oracle_limit_s": ORACLE_LIMIT_S, "sample_share": round(SAMPLE_SHARE, 4),
        "sample_max_sweep_s": cheap[-1][0],
        "faults": faults, "sample": sample, "strata": strata,
        "sweep_s": {q: round(t, 3) for t, q, _ in timed},
        "oracle_s": {q: round(o, 3) for _, q, o in timed},
        "excluded": dict(sorted(excluded.items())),
    }
    with open(run.ANALYST_POOL, "w") as f:
        json.dump(pool, f, indent=1)
        f.write("\n")
    print(f"pool: {len(timed)} queries, sample from the cheapest {n} in {N_STRATA} strata, "
          f"{len(excluded)} excluded, faults: {faults}")


if __name__ == "__main__":
    main()
