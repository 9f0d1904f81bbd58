#!/usr/bin/env python3
"""Closed-loop benchmark of the Spark ETL engine in this repository.

Run from the repository root:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

It compiles the program's sources (src/main/scala) together with the
benchmark's own Scala code (perfbench/src) into perfbench/.build, generates the
workload's inputs from the seed, runs one JVM that sets the workload up,
drives its closed loop for the given seconds and dumps every sample, then
checks the outputs and prints one JSON result as the last line of stdout.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones. The line before it is a detail record (the workload's
p50/p90 figures with sample counts, input sizes, check verdicts, drift
labels).

`python3 perfbench/run.py --self-test` runs every workload briefly and shows
that each output check passes on the real expectations and fails on a
planted wrong one.

See perfbench/README.md for the workloads and the metric map.
"""
import argparse
import datetime
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
RUN = os.path.join(WORK, "run")
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 170  # inputs + JVM, after the build
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
STAR_TABLES = "region,nation,customer,supplier,part,orders,lineitem,events"
# workload -> tables to generate (hourly_ingest lands its own CSVs)
INPUTS = {"hourly_ingest": None, "analyst_mix": STAR_TABLES}
# workload -> (tables, orders) of the layer round its traced runs add
ROUND_INPUTS = {"hourly_ingest": ("documents,embeddings,lineitem", 5000)}
# the op kind whose latency is op_s
PRIMARY = {"hourly_ingest": "ingest", "analyst_mix": "query"}
CANARY_ORDERS = 50000
# spans the workloads open around whole ops (the others nest inside them)
TOP_SPANS = ("ingest.op", "table.read", "query.op")


class Fatal(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------------

def spark_jars():
    """The Spark jar directory the project's own build compiles against."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(ROOT, "build.sbt")).read())
    cands = ([m.group(1)] if m else []) + (
        [os.path.join(os.environ["SPARK_HOME"], "jars")] if "SPARK_HOME" in os.environ else [])
    for d in cands:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise Fatal("no Spark jar directory with a Scala compiler found")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not prog or not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise Fatal("program sources (build.sbt, src/main/scala) not found; "
                    "run from the repository root")
    return prog + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))


def build():
    """Compiles program + benchmark once per source state; returns a classpath."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        h.update(open(s, "rb").read())
    key = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "key")
    if not (os.path.exists(stamp) and open(stamp).read() == key):
        log(f"compiling {len(srcs)} sources")
        shutil.rmtree(BUILD, ignore_errors=True)
        tmp = os.path.join(BUILD, "classes.tmp")
        os.makedirs(tmp)
        cp = os.path.join(jars, "*")
        r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                            "scala.tools.nsc.Main",
                            "-nowarn", "-d", tmp, "-cp", cp] + srcs,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise Fatal("compile failed:\n" + r.stdout[-4000:])
        os.rename(tmp, classes)
        with open(stamp, "w") as f:
            f.write(key)
    return classes + os.pathsep + os.path.join(jars, "*")


# ---- inputs ----------------------------------------------------------------

def gen(out, seed, tables, orders=None):
    args = [sys.executable, os.path.join(HERE, "gen.py"), out, str(seed), tables]
    subprocess.run(args + ([str(orders)] if orders else []), check=True)


def canary_dir():
    """Pinned canary table: the same bytes in every run and every checkout."""
    d = os.path.join(WORK, "canary")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        gen(d, 0, "lineitem", CANARY_ORDERS)
        open(os.path.join(d, "done"), "w").close()
    return d


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def run_jvm(cp, workload, seed, seconds, trace, deadline):
    run = RUN
    shutil.rmtree(run, ignore_errors=True)
    data = os.path.join(run, "data")
    os.makedirs(os.path.join(run, "tmp"))
    os.makedirs(data)
    if INPUTS[workload]:
        gen(data, seed, INPUTS[workload])
    if trace and workload in ROUND_INPUTS:
        gen(data, seed, *ROUND_INPUTS[workload])
    # -XX:-UsePerfData and SPARK_LOCAL_DIRS keep every file the JVM writes
    # inside the run directory
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xss8m"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={run}/tmp", f"-Dgraft.artifacts.root={run}/artifacts",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", data, "--work", run,
            "--cores", str(cores()),
            "--canary", canary_dir()])
    with open(os.path.join(run, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=run,
                             env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run, "local")))
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise Fatal("benchmark JVM timed out")
    if rc != 0 or not os.path.exists(os.path.join(run, "result.json")):
        tail = open(os.path.join(run, "jvm.log"), errors="replace").read()[-3000:]
        raise Fatal(f"benchmark JVM exited with {rc}:\n{tail}")
    res = json.load(open(os.path.join(run, "result.json")))
    return res, data


# ---- output checks -----------------------------------------------------------

def csv_rows(path):
    """(rows, digest) of one landed CSV, from Python's own parser and
    hashlib SHA-1: the rows a correct ETL keeps."""
    rows = digest = 0
    for line in open(path, encoding="utf-8"):
        f = line.rstrip("\n").split(",")
        if len(f) != 5:
            continue
        email, item, qty, price, ts = f
        try:
            item, qty, price = int(item), int(qty), int(price)
            datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S")
        except ValueError:
            continue
        buyer = hashlib.sha1(email.encode()).hexdigest()
        rows += 1
        digest += zlib.crc32(f"{buyer},{item},{qty},{price},{ts}".encode())
    return rows, digest


def duck_tables(con, data):
    for d in glob.glob(os.path.join(data, "*.parquet")):
        t = os.path.basename(d)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/*.parquet')")


def same_result(con, result_dir, oracle_sql):
    """Spark's result vs the DuckDB oracle: same column names, row count and
    values after sorting columns by name and rows by value."""
    s = con.sql(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')")
    o = con.sql(oracle_sql)
    if sorted(s.columns) != sorted(o.columns):
        return False
    cols = sorted(s.columns)
    sdf, odf = s.df()[cols], o.df()[cols]
    if len(sdf) != len(odf):
        return False
    canon = [df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
             .fillna("<null>").astype(str) for df in (sdf, odf)]
    return bool((canon[0].values == canon[1].values).all())


def oracle_verdicts(res, data, plant):
    """result dir -> (query name, oracle agrees). A planted run corrupts
    every expectation."""
    if not res["verify"]:
        return {}
    import duckdb
    con = duckdb.connect()
    duck_tables(con, data)
    out = {}
    for v in res["verify"]:
        q, d = v["query"], v["dir"]
        sql = res["oracle_sql"].get(q)
        if sql is None:
            raise Fatal(f"{q} has no oracle")
        if plant:
            sql = f"SELECT * FROM ({sql}) OFFSET 1"
        try:
            out[os.path.relpath(d, RUN)] = (q, same_result(con, d, sql))
        except Exception as e:  # an oracle that cannot run is a failed check
            log(f"oracle {q}: {e}")
            out[os.path.relpath(d, RUN)] = (q, False)
    return out


def window_check(res, ops, plant):
    """hourly_ingest: each read must hold exactly the live hours of the
    rolling window, as re-parsed from their CSVs, in timestamp order.
    Returns (steps that read wrong, rows the timed appends committed)."""
    f = res["facts"]
    first, window = f["first_timed_hour"], f["window"]
    csv = {h["hour"]: os.path.join(f["landing"], h["csv"]) for h in f["hours"]}
    parsed = {}
    def rows_of(h):
        if h not in parsed:
            parsed[h] = csv_rows(csv[h])
        return parsed[h]
    timed_ok = {o["step"] for o in ops if o["kind"] == "ingest" and o["error"] is None}
    bad = set()
    for st in f["steps"]:
        i = st["step"]
        live = [h for h in range(i - window + 1, i + 1) if h < first or h in timed_ok]
        rows = sum(rows_of(h)[0] for h in live)
        digest = sum(rows_of(h)[1] for h in live) + (1 if plant and i == first else 0)
        if st["rows"] is not None and not (
                st["rows"] == rows and st["digest"] == digest and st["ordered"]):
            bad.add(i)
    return bad, sum(rows_of(h)[0] for h in timed_ok)


def round_check(res, plant):
    """Layer round: after the delete and the upsert-to-same, each store must
    read back exactly as built; after the append it must differ. Returns
    the steps of reads that failed."""
    bad = set()
    built = {}
    for c in res["facts"]["round"]["checks"]:
        if c["after"] == "build":
            built[c["store"]] = c["digest"] + ("x" if plant else "")
        elif c["digest"] is None or (c["digest"] == built[c["store"]]) != (c["after"] != "append"):
            bad.add(c["step"])
    return bad


def judge(res, data, plant):
    """Marks each op ok or failed; returns (ops with 'ok', check summary)."""
    ops = [dict(o) for o in res["ops"]]
    for o in ops:
        o["ok"] = o["error"] is None
    summary = {}
    if res["workload"] == "hourly_ingest":
        bad, rows = window_check(res, ops, plant)
        for o in ops:
            if o["kind"] in ("ingest", "read") and o["step"] in bad:
                o["ok"] = False
        summary["ingest_steps_checked"] = len(res["facts"]["steps"])
        summary["ingest_steps_wrong"] = len(bad)
        summary["rows_committed"] = rows
    if "round" in res["facts"]:
        bad = round_check(res, plant)
        for o in ops:
            if o["kind"] == "store" and o["step"] in bad:
                o["ok"] = False
        summary["store_reads_wrong"] = len(bad)
    verdicts = oracle_verdicts(res, data, plant)
    wrong = {q for q, ok in verdicts.values() if not ok}
    for o in ops:
        if o["kind"] in ("query", "curate") and o["key"] in wrong:
            o["ok"] = False
    summary["oracle"] = {d: ok for d, (q, ok) in verdicts.items()}
    return ops, summary


# ---- metrics ---------------------------------------------------------------

def pct(vals, p):
    if len(vals) == 1:
        return vals[0]
    return statistics.quantiles(vals, n=100, method="inclusive")[p - 1]


def typical(samples):
    """Mean over op types of each type's median: a mix of unlike ops (the
    four queries) summarised without the median jumping between types from
    run to run."""
    groups = {}
    for kind, wall in samples:
        groups.setdefault(kind, []).append(wall)
    return statistics.fmean(statistics.median(v) for v in groups.values())


def end_to_end(res, ops):
    """Latencies count every op that returned, right or wrong: a wrong
    answer is counted in `failed`, its time is still the time it took."""
    w = res["workload"]
    done = [o for o in ops if o["error"] is None]
    prim = [(o["key"], o["wall_s"]) for o in done if o["kind"] == PRIMARY[w]]
    if not prim:
        raise Fatal("every op threw; nothing to time")
    # a closed-loop step as a user sees it: append + fresh read, or one
    # pass over every query
    per_step = {}
    for o in done:
        per_step[o["step"]] = per_step.get(o["step"], 0.0) + o["wall_s"]
    step = [("step", v) for v in per_step.values()]
    return {
        "setup_s": (res["setup_s"], "s"),
        "op_s": (typical(prim), "s"),
        "step_s": (typical(step), "s"),
        "ops_per_s": (len(prim) / res["loop_wall_s"], "1/s"),
    }


def per_layer(res, ops, summary):
    """Per-layer metrics of a --trace 1 run. A layer a workload does not
    reach reads 0."""
    tr = res["trace"]
    spans = tr["spans"]
    cores_ = res["cores"]
    sp = lambda n: spans.get(n, {})
    def mean(names, field):
        n = sum(sp(x).get("n", 0) for x in names)
        return sum(sp(x).get(field, 0) for x in names) / n if n else 0.0
    tops = [k for k in spans if k in TOP_SPANS]
    n_top = sum(sp(k)["n"] for k in tops) or 1
    tot = lambda f: sum(sp(k).get(f, 0) for k in tops)
    m = {}
    facts = res["facts"]
    # graft.etl and the purchases table
    m["etl.plan_s"] = (mean(["etl.plan"], "wall_s"), "s")
    m["etl.write_s"] = (mean(["etl.write"], "wall_s"), "s")
    appended = {o["step"] for o in ops if o["kind"] == "ingest" and o["error"] is None}
    lines = sum(h["lines"] for h in facts.get("hours", []) if h["hour"] in appended)
    kept = summary.get("rows_committed", 0)
    m["etl.rows_in"] = (lines / len(appended) if appended else 0.0, "count")
    m["etl.rows_kept"] = (kept / len(appended) if appended else 0.0, "count")
    m["etl.keep_ratio"] = (kept / lines if lines else 0.0, "ratio")
    m["etl.table_files"] = (facts.get("table_files", 0), "count")
    m["etl.table_partitions"] = (facts.get("table_partitions", 0), "count")
    m["table.read_s"] = (mean(["table.read"], "wall_s"), "s")
    m["table.read_jobs"] = (mean(["table.read"], "jobs"), "count")
    m["fs.read_ops"] = (tot("fs_read_ops") / n_top, "count")
    m["fs.write_ops"] = (tot("fs_write_ops") / n_top, "count")
    # graft.queries + graft.Tables
    m["queries.build_s"] = (mean(["queries.build"], "wall_s"), "s")
    m["queries.build_jobs"] = (mean(["queries.build"], "jobs"), "count")
    m["queries.exec_s"] = (mean(["queries.exec"], "wall_s"), "s")
    # Catalyst, scheduling, executor, shuffle: per top-level op
    for f in ("analysis", "optimization", "planning"):
        m[f"catalyst.{f}_s"] = (tot(f"{f}_s") / n_top, "s")
    m["sched.jobs_per_op"] = (tot("jobs") / n_top, "count")
    m["sched.stages_per_op"] = (tot("stages") / n_top, "count")
    m["sched.tasks_per_op"] = (tot("tasks") / n_top, "count")
    wall = tot("wall_s")
    m["sched.idle_frac"] = (1 - tot("task_run_s") / (wall * cores_) if wall else 0.0, "ratio")
    m["exec.task_run_s"] = (tot("task_run_s") / n_top, "s")
    m["exec.task_cpu_s"] = (tot("task_cpu_s") / n_top, "s")
    m["exec.gc_s"] = (tot("gc_s") / n_top, "s")
    m["shuffle.write_bytes"] = (tot("shuffle_write_bytes") / n_top, "bytes")
    m["shuffle.spill_bytes"] = (tot("spill_bytes") / n_top, "bytes")
    # the tracer itself: traced op latency (minus the untraced run's op_s =
    # overhead), its own settle time, wall outside op spans
    prim = [(o["key"], o["wall_s"]) for o in ops
            if o["kind"] == PRIMARY[res["workload"]] and o["error"] is None]
    m["trace.op_s"] = (typical(prim) if prim else 0.0, "s")
    m["trace.settle_s"] = (tr["settle_s"] / n_top, "s")
    steps_wall = sum(res["step_walls"])
    m["trace.unattributed_frac"] = (1 - tr["top_wall_s"] / steps_wall if steps_wall else 0.0,
                                    "ratio")
    m["trace.unattributed_jobs"] = (tr["unattributed_jobs"], "count")
    m.update(round_layers(res, spans))
    return m


def round_layers(res, spans):
    """Per-layer metrics of the layer round (0 where a run has none): the
    generational stores' commits and reads, and the corpus operators."""
    sp = lambda n: spans.get(n, {})
    per = lambda names, f: (sum(sp(x).get(f, 0) for x in names) /
                            (sum(sp(x).get("n", 0) for x in names) or 1))
    commits = ["store.append", "store.delete", "store.upsert"]
    m = {f"{x}_s": (per([x], "wall_s"), "s") for x in commits}
    m["store.jobs_per_commit"] = (per(commits, "jobs"), "count")
    m["store.fs_ops_per_commit"] = (per(commits, "fs_read_ops") + per(commits, "fs_write_ops"),
                                    "count")
    rnd = res["facts"].get("round", {})
    cs = rnd.get("commits", [])
    m["store.files_written"] = (statistics.fmean(c["written"] for c in cs) if cs else 0.0, "count")
    m["store.files_carried"] = (statistics.fmean(c["carried"] for c in cs) if cs else 0.0, "count")
    m["store.live_bytes"] = (rnd.get("live_bytes", 0), "bytes")
    m["store.total_bytes"] = (rnd.get("total_bytes", 0), "bytes")
    m["store.bytes_per_live_byte"] = (rnd["total_bytes"] / rnd["live_bytes"]
                                      if rnd.get("live_bytes") else 0.0, "ratio")
    m["store.read_s"] = (per(["store.read"], "wall_s"), "s")
    m["store.read_jobs"] = (per(["store.read"], "jobs"), "count")
    for mod in ("dedup", "text", "pipelines", "similarity"):
        m[f"{mod}.op_s"] = (sp(f"{mod}.op").get("wall_s", 0.0), "s")
        m[f"{mod}.task_run_s"] = (sp(f"{mod}.op").get("task_run_s", 0.0), "s")
    return m


def named(res, ops, summary):
    """The workload's own end-to-end figures under their design names, each
    with its sample count (a p90 is only trustworthy with 10 samples beyond
    it, which a run of this length does not give)."""
    def lat(name, kind):
        v = [o["wall_s"] for o in ops if o["kind"] == kind and o["error"] is None]
        if not v:
            return {}
        return {f"{name}_p50_s": {"value": statistics.median(v), "unit": "s", "n": len(v)},
                f"{name}_p90_s": {"value": pct(v, 90), "unit": "s", "n": len(v),
                                  "samples_beyond": len(v) - int(0.9 * len(v))}}
    w = res["workload"]
    out = {"failed_ratio": {"value": sum(1 for o in ops if not o["ok"]) / len(ops), "unit": "ratio"}}
    if w == "hourly_ingest":
        out.update(lat("ingest", "ingest"))
        out.update(lat("fresh_read", "read"))
        ingest = sum(o["wall_s"] for o in ops if o["kind"] == "ingest" and o["error"] is None)
        out["ingest_rows_per_s"] = {"value": summary["rows_committed"] / ingest, "unit": "1/s"}
    else:
        out.update(lat("query", "query"))
        out["queries_per_s"] = {"value": len(ops) / res["loop_wall_s"], "unit": "1/s"}
    return out


def input_sizes(res, data):
    """Row counts of the generated tables, and the per-batch figures of the
    landed CSVs."""
    import pyarrow.parquet as pq
    sizes = {os.path.basename(d)[:-len(".parquet")]:
             sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(f"{d}/*.parquet"))
             for d in sorted(glob.glob(os.path.join(data, "*.parquet")))}
    f = res["facts"]
    if "hours" in f:
        sizes["lines_per_batch"] = [h["lines"] for h in f["hours"] if h["hour"] >= f["first_timed_hour"]]
        sizes["table_rows"] = [s["rows"] for s in f["steps"]]
    sizes.update({k: v for k, v in f.items() if k not in ("steps", "landing", "hours", "round")})
    if "round" in f:
        sizes["round"] = {k: v for k, v in f["round"].items() if k != "checks"}
    return sizes


def detail(res, ops, summary, data):
    """Everything beside the metrics: what was run, on what, how often, with
    which verdicts, and the drift labels."""
    return {"workload": res["workload"], "loop": "closed", "clients": 1,
            "cores": res["cores"], "seed": res["seed"], "steps": res["steps"],
            "loop_wall_s": res["loop_wall_s"], "setup_s": res["setup_s"],
            "named": named(res, ops, summary), "checks": summary,
            "inputs": input_sizes(res, data),
            "drift": {"canary": res["canary"], "load1_before": res["load1_before"],
                      "load1_after": res["load1_after"]}}


def bench(workload, seed, seconds, trace, plant=False):
    t0 = time.time()
    cp = build()
    t1 = time.time()
    res, data = run_jvm(cp, workload, seed, seconds, trace, t1 + JVM_TIMEOUT_S)
    t2 = time.time()
    ops, summary = judge(res, data, plant)
    log(f"build {t1 - t0:.1f} s, inputs+jvm {t2 - t1:.1f} s, checks {time.time() - t2:.1f} s")
    failed = sum(1 for o in ops if not o["ok"])
    correct = failed == 0 and all(summary["oracle"].values())
    metrics = per_layer(res, ops, summary) if trace else end_to_end(res, ops)
    return {"correct": correct, "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}, \
        detail(res, ops, summary, data)


def self_test():
    """Each workload's check passes on the run's real expectations and fails
    when one expectation is planted wrong."""
    ok = True
    for w, trace in [(w, 0) for w in INPUTS] + [(w, 1) for w in ROUND_INPUTS]:
        good, _ = bench(w, 1, 1, trace)
        bad, _ = bench(w, 1, 1, trace, plant=True)
        passed = good["correct"] and good["failed"] == 0 and not bad["correct"] and bad["failed"] > 0
        ok &= passed
        print(f"{w} --trace {trace}: real expectations correct={good['correct']} "
              f"failed={good['failed']}; planted correct={bad['correct']} "
              f"failed={bad['failed']} -> {'PASS' if passed else 'FAIL'}")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    try:
        if a.self_test:
            return self_test()
        if not a.workload:
            ap.error("--workload is required")
        result, info = bench(a.workload, a.seed, a.seconds, a.trace)
    except Exception as e:  # no result line: the run counts as failed
        log(f"error: {type(e).__name__}: {e}")
        return 2
    print("detail " + json.dumps(info, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
