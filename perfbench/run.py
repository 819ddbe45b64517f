#!/usr/bin/env python3
"""graft benchmark: one workload, one fresh JVM, outputs checked apart
from the engine.

Usage:
  python3 perfbench/run.py --workload analyst|curate|harvest --seed N \
      --seconds S --trace 0|1 [--corrupt 1]
  python3 perfbench/run.py --workload all --seed N --seconds S

Builds the engine and the benchmark from source (perfbench/build.py),
starts one JVM per run (perfbench/src/graftbench/Main.scala), which sets
up with a fixed number of untimed rounds and then times
round(S / ROUND_S) rounds, then checks every timed operation's output in
DuckDB and prints, as the last line of standard output, one JSON object
with `correct`, `attempted`, `failed` and `metrics`. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json (setup_s, items_per_s,
latency_p50_s); with --trace 1 the JVM registers its listener pair and
the metrics are BENCHMARK.json's per-layer ones, also written, with the
rest and the tracing overhead, to <build dir>/layers/<workload>.json.

--corrupt 1 alters one output row of one timed operation before it is
checked (see perfbench/selftest.py); it is never used for measurement.

Environment: GRAFT_BENCH_DATA (default ~/testdata/sf0.1, the engine's
sf0.1 test tables, see TESTDATA.md) holds the parquet tables; SPARK_HOME
overrides the Spark install that build.sbt names.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
sys.path.insert(0, os.path.join(ROOT, "tools"))
from check_oracle import TABLES, canon  # noqa: E402

DATA = os.environ.get("GRAFT_BENCH_DATA") or os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
WORKLOADS = ("analyst", "curate", "harvest")
HEAP = "3g"
JVM_TIMEOUT_S = 150
# Untimed rounds before timing, the first of them the check round: a fresh
# JVM's operations get about twice as fast over their first 30-40 s as the
# JIT compiles the engine's and Spark's code; later rounds move far less.
WARMUP_ROUNDS = {"analyst": 2, "curate": 3, "harvest": 3}
# Seconds one timed round takes on the reference machine, once warm: a
# run times round(--seconds / ROUND_S) rounds, at least one, whatever the
# host's speed, so every run does the same work.
ROUND_S = {"analyst": 8.0, "curate": 4.5, "harvest": 4.0}
# A timed round after the first starts only this many seconds after the
# JVM started, which bounds a run on a slow host.
DEADLINE_S = 52
ORACLE_TIMEOUT_S = 30
ANALYST_POOL = os.path.join(HERE, "analyst_pool.json")
CURATE_PLANTED = 250
CURATE_PLANTED_BASE = 1_000_000
HARVEST_LIMIT, HARVEST_BATCH, HARVEST_STALE_MS, HARVEST_TTL_MS = 100, 10, 86400000, 3600000
HARVEST_POINTS = 100000
# 2024-01-31T00:00:00Z: a day after the newest event, so about half the
# grid leaves are stale at the first beat.
HARVEST_NOW0_MS = 1706659200000

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def cpu_ref():
    """A fixed pure-Python CPU loop: measures the machine, not the engine."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 31 + i) % 1000003
    return time.perf_counter() - t


# ---------------------------------------------------------------- inputs

def analyst_pool():
    """The pool made by make_pool.py. Its fixed sample, the median query of
    each cost stratum, cheapest first, does not depend on the seed; its
    faults are the queries whose result disagrees with their oracle."""
    return json.load(open(ANALYST_POOL))


def plant_duplicates(seed, out):
    """Writes <out>/input/documents.parquet: the documents table plus
    CURATE_PLANTED exact duplicates of seeded source docs. Copy i gets id
    CURATE_PLANTED_BASE + i and, by i mod 3, the source text unchanged,
    with every space doubled and padding at both ends, or with its words
    reversed: the distinct word set, hence the canonical key, is kept."""
    src = os.path.join(DATA, "documents.parquet")
    os.makedirs(os.path.join(out, "input"))
    con = duckdb.connect()
    ids = [r[0] for r in con.execute(f"SELECT doc_id FROM read_parquet('{src}') ORDER BY doc_id").fetchall()]
    picks = random.Random(seed).sample(ids, CURATE_PLANTED)
    con.execute("CREATE TEMP TABLE picks (i BIGINT, src BIGINT)")
    con.executemany("INSERT INTO picks VALUES (?, ?)", list(enumerate(picks)))
    con.execute(f"""COPY (
        WITH d AS (SELECT doc_id, text, lang, source, n_chars FROM read_parquet('{src}')),
        p AS (SELECT {CURATE_PLANTED_BASE} + i AS doc_id,
                     CASE i % 3 WHEN 0 THEN text
                          WHEN 1 THEN '  ' || replace(text, ' ', '  ') || ' '
                          ELSE array_to_string(list_reverse(string_split_regex(trim(text), '\s+')), ' ')
                     END AS text, lang, source
              FROM picks JOIN d ON d.doc_id = picks.src)
        SELECT * FROM d
        UNION ALL SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) FROM p
        ORDER BY doc_id) TO '{out}/input/documents.parquet' (FORMAT PARQUET)""")
    return picks


def prepare(workload, seed, out):
    """The run's inputs, made from the seed: JVM arguments plus detail."""
    if workload == "analyst":
        sample = analyst_pool()["sample"]
        return ["--queries", ",".join(sample)], {"sample": sample}
    if workload == "curate":
        return [], {"planted_sources": plant_duplicates(seed, out)}
    now0 = HARVEST_NOW0_MS + random.Random(seed).randrange(0, 12 * 3600) * 1000
    return ["--now-ms", str(now0)], {"now0_ms": now0}


def run_jvm(workload, warmup, rounds, trace, out, classes, extra, timeout=JVM_TIMEOUT_S):
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    tmp = os.path.join(out, "tmp")
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           "-XX:+UseCodeCacheFlushing", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={out}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *opens,
           "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
           "graftbench.Main", "--workload", workload, "--warmup", str(warmup), "--rounds", str(rounds),
           "--deadline-s", str(DEADLINE_S), "--trace", "1" if trace else "0",
           "--data", DATA, "--out", out, *extra]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))), SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        spawn = time.time()
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=out)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"{workload}: JVM exceeded {timeout}s, see {out}/jvm.log")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        tail = open(os.path.join(out, "jvm.log")).read()[-3000:]
        raise SystemExit(f"{workload}: JVM exited {rc}\n{tail}")
    return spawn, json.load(open(os.path.join(out, "run.json")))


# ---------------------------------------------------------------- checks

class Oracle:
    """A DuckDB connection with a watchdog per statement."""

    def __init__(self):
        self.con = duckdb.connect()

    def view(self, name, path):
        self.con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def rows(self, sql):
        dog = threading.Timer(ORACLE_TIMEOUT_S, self.con.interrupt)
        dog.start()
        try:
            res = self.con.execute(sql)
            return [d[0] for d in res.description], res.fetchall()
        finally:
            dog.cancel()

    def steps(self, steps):
        for name, sql in steps:
            dog = threading.Timer(ORACLE_TIMEOUT_S, self.con.interrupt)
            dog.start()
            try:
                self.con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS {sql}")
            finally:
                dog.cancel()


def same_rows(srows, scols, orows, ocols):
    """tools/check_oracle.py's comparison: columns by name, floats to 9
    significant digits, rows in any order."""
    return sorted(scols) == sorted(ocols) and sorted(canon(srows, scols)) == sorted(canon(orows, ocols))


def parquet(path):
    return f"read_parquet('{path}/*.parquet')"


def check_analyst(rec, out, corrupt):
    """Each sampled query's check-round result against its DuckDB oracle;
    each timed operation's row count against the oracle's and its checksum
    against that of the checked result."""
    db = Oracle()
    for t in TABLES:
        db.view(t, os.path.join(DATA, f"{t}.parquet"))
    verdict = {}
    checked = [w for w in rec["warmup"] if w["check"]]
    for w in checked:
        q = w["op"]
        if "error" in w:
            verdict[q] = (None, f"check round failed: {w['error']}")
            continue
        try:
            scols, srows = db.rows(f"SELECT * FROM {parquet(os.path.join(out, 'results', q))}")
            ocols, orows = db.rows(rec["oracle"][q])
        except Exception as e:  # an oracle that cannot run leaves the query unchecked
            verdict[q] = (None, f"check error: {e}")
            continue
        if corrupt and q == checked[0]["op"] and srows:
            srows[0] = tuple("corrupted" for _ in srows[0])
        if sorted(scols) != sorted(ocols):
            verdict[q] = (None, f"columns {sorted(scols)} vs oracle {sorted(ocols)}")
        elif not same_rows(srows, scols, orows, ocols):
            verdict[q] = (None, f"rows differ from oracle ({len(srows)} vs {len(orows)})")
        elif w["rows"] != len(srows):
            verdict[q] = (None, f"check round observed {w['rows']} rows, wrote {len(srows)}")
        else:
            verdict[q] = ((len(orows), w["checksum"]), None)
    fails = []
    for o in rec["ops"]:
        want, why = verdict[o["op"]]
        if "error" in o:
            fails.append(f"{o['op']}: {o['error']}")
        elif why:
            fails.append(f"{o['op']}: {why}")
        elif o["rows"] != want[0]:
            fails.append(f"{o['op']}: noop sink got {o['rows']} rows, oracle {want[0]}")
        elif o["checksum"] != want[1]:
            fails.append(f"{o['op']}: checksum differs from the checked result")
        else:
            fails.append(None)
    return fails


def check_curate(rec, out, corrupt):
    """The check round's curated set and every operation's report against
    the DuckDB composition of the engine's SQL mirrors, plus properties;
    each timed operation's row count and checksum against the checked
    round."""
    db = Oracle()
    db.view("docs", os.path.join(out, "input", "documents.parquet"))
    db.steps(rec["oracle"]["steps"])
    want = set(db.con.execute("SELECT doc_id, split, quality_bp FROM curated").fetchall())
    want_report = dict(db.con.execute("SELECT stage, n_docs FROM report").fetchall())
    db.view("spark_curated", os.path.join(out, "check", "curated", "*.parquet"))
    got = db.con.execute("SELECT doc_id, split, quality_bp FROM spark_curated").fetchall()
    base = CURATE_PLANTED_BASE
    problems = []
    if set(got) != want or len(got) != len(want):
        problems.append(f"curated set differs from oracle ({len(got)} vs {len(want)} docs)")
    if db.con.execute("SELECT count(*) - count(DISTINCT doc_id) FROM spark_curated").fetchone()[0]:
        problems.append("duplicate doc ids")
    if db.con.execute("SELECT count(*) FROM spark_curated WHERE doc_id NOT IN (SELECT doc_id FROM docs)").fetchone()[0]:
        problems.append("ids not in the input")
    if db.con.execute(f"SELECT count(*) FROM spark_curated WHERE doc_id >= {base}").fetchone()[0]:
        problems.append("a planted duplicate survived")
    if db.con.execute("""SELECT count(*) FROM spark_curated c JOIN keyed k USING (doc_id)
                         JOIN (SELECT ck, min(doc_id) AS m FROM keyed GROUP BY ck) g USING (ck)
                         WHERE c.doc_id <> g.m""").fetchone()[0]:
        problems.append("an exact-duplicate group kept other than its smallest id")
    warm = rec["warmup"][0]
    if "error" in warm:
        problems.append(f"check round failed: {warm['error']}")
    fails = []
    for i, o in enumerate(rec["ops"]):
        if "error" in o:
            fails.append(o["error"])
            continue
        report = dict(o["report"])
        if corrupt and i == 0:
            report["2_near_dedup"] += 1
        counts = [report.get(s) for s in sorted(want_report)]
        why = list(problems)
        if report != want_report:
            why.append(f"report {report} vs oracle {want_report}")
        if any(a is None or b is None or b > a for a, b in zip(counts, counts[1:])):
            why.append("a stage count increased")
        if report.get("4_split") != report.get("3_quality_floor"):
            why.append("4_split != 3_quality_floor")
        if (o["rows"], o["checksum"]) != (warm.get("rows"), warm.get("checksum")):
            why.append("curated docs differ from the checked output")
        fails.append("; ".join(why) or None)
    return fails


def check_harvest(rec, out, corrupt):
    """Every beat's grid against GridOps.subdivideSql in DuckDB, and its
    tasks against the scheduling properties; the sink's commits and the
    replay after the last beat."""
    db = Oracle()
    db.view("events", os.path.join(DATA, "events.parquet"))
    db.steps(rec["oracle"]["steps"])
    grid = {r[4]: r for r in db.con.execute(
        "SELECT z, x, y, c, tile_id, last_ts FROM grid").fetchall()}
    want_grid = sorted(grid.values())
    beats = rec["warmup"] + rec["ops"]
    prev, fails = None, []
    fin = rec["finish"]
    for i, o in enumerate(beats):
        k, why = o.get("beat"), []
        if "error" in o:
            fails.append(o["error"])
            prev = None
            continue
        now = o["now_ms"]
        got_grid = sorted(db.con.execute(
            f"SELECT z, x, y, c, tile_id, last_ts FROM {parquet(os.path.join(out, 'grids', f'beat={k}'))}").fetchall())
        tasks = db.con.execute(
            f"SELECT tile_id, last_ts, batch_id, expires_ms FROM {parquet(os.path.join(out, 'sink', f'batch={k}'))}").fetchall()
        if corrupt and i == len(rec["warmup"]) and tasks:
            tasks[0] = (tasks[0][0], tasks[0][1], tasks[0][2] + 1, tasks[0][3])
        if got_grid != want_grid:
            why.append(f"grid differs from oracle ({len(got_grid)} vs {len(want_grid)} leaves)")
        inflight = set() if prev is None else {t[0] for t in prev if t[3] > now}
        cutoff = now - HARVEST_STALE_MS
        eligible = sorted(((g[5] is not None, g[5] or 0, g[4]) for g in grid.values()
                           if g[4] not in inflight and (g[5] is None or g[5] <= cutoff)))
        chosen = sorted((t[1] is not None, t[1] or 0, t[0]) for t in tasks)
        if chosen != eligible[:min(HARVEST_LIMIT, len(eligible))]:
            why.append("tasks are not the oldest eligible leaves outside the in-flight set")
        if any(t[0] not in grid or t[1] != grid[t[0]][5] for t in tasks):
            why.append("a task is not a leaf or carries a wrong last_ts")
        if len(tasks) > HARVEST_LIMIT:
            why.append("more tasks than the limit")
        sizes = [sum(1 for t in tasks if t[2] == b) for b in range(max((t[2] for t in tasks), default=-1) + 1)]
        if sum(sizes) != len(tasks) or any(s != HARVEST_BATCH for s in sizes[:-1]) or (sizes and not 0 < sizes[-1] <= HARVEST_BATCH):
            why.append(f"batches are not full except the last: {sizes}")
        if {t[3] for t in tasks} - {now + HARVEST_TTL_MS}:
            why.append("tasks do not share the beat's expiry")
        want_report = {"points": HARVEST_POINTS, "leaf_tiles": len(grid),
                       "stale_selected": len(tasks), "batches": len(sizes)}
        if o["report"] != want_report:
            why.append(f"report {o['report']} vs {want_report}")
        if not o["wrote"]:
            why.append("the sink skipped a new beat")
        if i == len(beats) - 1:
            if fin["committed"] != list(range(len(beats))):
                why.append(f"committed batches {fin['committed']} != beats run")
            if fin["replay_wrote"] or not fin["replay_unchanged"]:
                why.append("the replayed beat id wrote")
        prev = tasks
        fails.append("; ".join(why) or None)
    return fails[len(rec["warmup"]):]


CHECKS = {"analyst": check_analyst, "curate": check_curate, "harvest": check_harvest}


# ---------------------------------------------------------------- metrics

def end_to_end(rec, spawn, fails):
    ops = rec["ops"]
    done = [o for o, f in zip(ops, fails) if f is None]
    timed = [o["t_s"] for o in ops if "error" not in o]
    return {
        "setup_s": rec["first_op_us"] / 1e6 - spawn,
        "items_per_s": sum(o["items"] for o in done) / rec["window_s"],
        "latency_p50_s": statistics.median(timed) if timed else rec["window_s"],
    }


def files_under(path):
    return sum(1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def per_layer(rec, out, e2e, host):
    ops = rec["ops"]
    n = len(ops)

    def mean(f):
        return sum(f(o) for o in ops) / n

    def lay(k):
        return mean(lambda o: o.get("layers", {}).get(k, 0))

    def field(k):
        return mean(lambda o: o.get(k, 0))

    return {
        "session.start_s": rec["session_start_s"],
        "session.tables_s": rec["tables_s"],
        "session.warmup_s": rec["warmup_s"],
        "queries.build_s": field("build_s"),
        "queries.build_jobs": field("build_jobs"),
        "plan.analysis_ms": lay("analysis_ms"),
        "plan.optimizer_ms": lay("optimizer_ms"),
        "plan.planning_ms": lay("planning_ms"),
        "sched.jobs": lay("jobs"),
        "sched.stages": lay("stages"),
        "sched.tasks": lay("tasks"),
        "sched.idle_s": lay("idle_ms") / 1e3,
        "sched.core_busy": lay("task_run_ms") * n / (rec["window_s"] * 1e3 * rec["cores"]),
        "exec.task_run_s": lay("task_run_ms") / 1e3,
        "exec.task_cpu_s": lay("task_cpu_ns") / 1e9,
        "exec.gc_s": lay("gc_ms") / 1e3,
        "exec.spill_bytes": lay("spill_bytes"),
        "shuffle.write_bytes": lay("shuffle_write"),
        "shuffle.read_bytes": lay("shuffle_read"),
        "scan.input_bytes": lay("input_bytes"),
        "scan.input_rows": lay("input_rows"),
        "scan.tasks": lay("scan_tasks"),
        "driver.result_bytes": lay("result_bytes"),
        "pipeline.curate_call_s": field("curate_call_s"),
        "pipeline.curate_call_jobs": field("curate_call_jobs"),
        "pipeline.docs_write_s": field("docs_write_s"),
        "harvest.plan_call_s": field("plan_call_s"),
        "harvest.plan_call_jobs": field("plan_call_jobs"),
        "harvest.write_s": field("harvest_write_s"),
        "io.bytes_written": lay("output_bytes"),
        "io.files_written": mean(lambda o: files_under(os.path.join(out, "grids", f"beat={o['beat']}"))
                                 + files_under(os.path.join(out, "sink", f"batch={o['beat']}"))
                                 if "beat" in o else 0),
        "host.cpu_ref_s": host,
        "trace.items_per_s": e2e["items_per_s"],
        "trace.latency_p50_s": e2e["latency_p50_s"],
    }


BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run_one(workload, seed, seconds, trace, corrupt=False):
    classes = build.build()
    out = os.path.join(build.build_dir(), "run", workload)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    extra, inputs = prepare(workload, seed, out)
    host0 = cpu_ref()
    rounds = max(1, round(seconds / ROUND_S[workload]))
    spawn, rec = run_jvm(workload, WARMUP_ROUNDS[workload], rounds, trace, out, classes, extra)
    host1 = cpu_ref()
    fails = CHECKS[workload](rec, out, corrupt)
    e2e = end_to_end(rec, spawn, fails)
    faults = set(analyst_pool()["faults"]) if workload == "analyst" else set()
    result = {
        # only the operations of the engine faults that the pool names may fail
        "correct": all(f is None or o["op"] in faults for o, f in zip(rec["ops"], fails)),
        "attempted": len(rec["ops"]),
        "failed": sum(1 for f in fails if f is not None),
    }
    detail = {"workload": workload, "seed": seed, "trace": bool(trace), "rounds": rec["rounds"],
              "host.cpu_ref_s": (host0 + host1) / 2, "e2e": e2e,
              "failures": sorted({f for f in fails if f is not None}), **inputs}
    layers_dir = os.path.join(build.build_dir(), "layers")
    os.makedirs(layers_dir, exist_ok=True)
    if trace:
        metrics = per_layer(rec, out, e2e, detail["host.cpu_ref_s"])
        base_path = os.path.join(layers_dir, f"{workload}.untraced.json")
        if os.path.exists(base_path):
            base = json.load(open(base_path))["e2e"]
            detail["overhead"] = {k: e2e[k] - base[k] for k in ("items_per_s", "latency_p50_s")}
        detail["layers"] = metrics
        with open(os.path.join(layers_dir, f"{workload}.json"), "w") as f:
            json.dump(detail, f, indent=1)
    else:
        metrics = e2e
        if not corrupt:
            with open(os.path.join(layers_dir, f"{workload}.untraced.json"), "w") as f:
                json.dump(detail, f, indent=1)
    # the result line carries exactly BENCHMARK.json's metrics of its kind;
    # the layers file keeps the rest (the curate-only pipeline layer)
    result["metrics"] = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                         for m in BENCH["per_layer" if trace else "end_to_end"]}
    return result, detail


def main():
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--corrupt", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()
    if not os.path.isdir(DATA):
        raise SystemExit(f"no engine tables at {DATA} (set GRAFT_BENCH_DATA)")
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    results = {}
    for w in names:
        result, detail = run_one(w, a.seed, a.seconds, a.trace, a.corrupt)
        results[w] = result
        print(json.dumps(detail, sort_keys=True))
        for k, v in result["metrics"].items():
            print(f"{w:8s} {k:24s} {v['value']:.6g} {v['unit']}")
        print(f"{w:8s} attempted {result['attempted']} failed {result['failed']}", flush=True)
    if a.workload == "all":
        print(json.dumps(results))
    else:
        print(json.dumps(results[a.workload]))


if __name__ == "__main__":
    main()
