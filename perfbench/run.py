#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, checked outputs.

Usage (from the repository root):

    python3 perfbench/run.py --workload catalog|stream-small \
        --seed N --seconds S --trace 0|1

Builds the engine from ``src/main/scala`` with the benchmark's own sbt build
(offline, Spark jars from ``$SPARK_HOME/jars``) when the sources changed,
generates the stream inputs from the seed (the catalog reads the test tables
in ``perfbench/data``), runs one JVM on a session
from ``graft.Engine.session`` with ``nproc`` cores, checks every output
against answers computed without Spark, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` prints the per-layer metrics and writes
the span tree to ``perfbench/.work/trace-<workload>.jsonl``.
"""
import argparse
import glob
import hashlib
import json
import os
import pickle
import shutil
import subprocess
import sys
import time

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# The catalog runs on a copy of the engine's sf0.01 test tables (the scale of
# the DuckDB correctness gate), kept inside the benchmark so that a run reads
# only its checkout.
CATALOG_DATA = os.path.join(HERE, "data", "sf0.01")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import spans  # noqa: E402

DEADLINE_S = 175           # a run without a build
BUILD_DEADLINE_S = 850     # the first run in a checkout, which builds
# facts generated for the stream: 40 triggers of StreamRun.TriggerRows = 1000
STREAM_FACTS = 40_000
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


# ------------------------------------------------------------------- build

def spark_home():
    """``$SPARK_HOME``, else the installation that ``spark-submit`` on the
    PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(start):
    if not glob.glob(os.path.join(ROOT, "src", "main", "scala", "graft", "*.scala")):
        fail("engine sources not found: run from a checkout of the repository")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isdir(classes):
        return classes, False
    sbt_opts = ["-Dsbt.override.build.repos=true",
                "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
                "-Dsbt.offline=true", "-Xmx2g"]
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline",
               SBT_OPTS=" ".join(sbt_opts))
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=BUILD_DEADLINE_S - (time.time() - start)).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, True


# --------------------------------------------------------------------- run

def sizing():
    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    mem_kb = 8 << 20
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_gb = max(1, min(4, mem_kb // (4 << 20)))
    return cores, heap_gb


def run_jvm(classes, workload, seconds, trace, inputs, work, deadline):
    cores, heap_gb = sizing()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap_gb}g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
              "-cp", classes + os.pathsep + os.path.join(spark_home(), "jars", "*"),
              "graft.perfbench.Main", workload, str(seconds), str(trace), inputs, work, str(cores)])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10, deadline - 20 - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -1
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        text = open(log).read()
        causes = [ln for ln in text.splitlines() if "Exception" in ln or "Error" in ln]
        sys.stderr.write("\n".join(causes[:10]) + "\n" + text[-2000:])
        fail(f"benchmark JVM failed (exit {rc})")
    with open(result) as fh:
        return json.load(fh)


# ------------------------------------------------------------------ checks

def normalize(df):
    """Column-sorted, row-sorted frame with list cells as tuples."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(lambda v: tuple(v) if hasattr(v, "__len__")
                                and not isinstance(v, (str, bytes, dict)) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def check_catalog(res, inputs, work):
    """Each written result equals DuckDB's answer to the query's oracle SQL
    over the same parquet files, and no query failed. Answers are cached by
    SQL text and input file contents."""
    oracle = json.load(open(os.path.join(work, "oracle_sql.json")))
    cache = os.path.join(WORK, "oracle-cache")
    os.makedirs(cache, exist_ok=True)
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(inputs, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    data_key = h.hexdigest()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    bad = set(res["failed_queries"])
    for name, sql in sorted(oracle.items()):
        key = hashlib.sha256((data_key + sql).encode()).hexdigest()
        path = os.path.join(cache, key + ".pkl")
        if os.path.exists(path):
            want = pickle.load(open(path, "rb"))
        else:
            want = con.execute(sql).df()
            with open(path + ".tmp", "wb") as fh:
                pickle.dump(want, fh)
            os.replace(path + ".tmp", path)
        files = sorted(glob.glob(os.path.join(work, "out", name, "*.parquet")))
        got = (pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
               if files else pd.DataFrame(columns=want.columns))
        s, d = normalize(got), normalize(want)
        if list(s.columns) != list(d.columns) or len(s) != len(d) or not s.equals(d):
            bad.add(name)
    return sorted(bad)


def check_stream(res, seed, n_facts, work):
    """Final twin outputs equal the answers computed from the generated rows;
    the committed sink directories hold each confirmation exactly once."""
    want = gen.stream_expected(seed, n_facts, res["facts_consumed"])
    got = res["final"]
    bad = []
    if got["counts"] != want["counts"]:
        bad.append("runningCount")
    if {k: [tuple(e) for e in v] for k, v in got["top3"].items()} != want["top3"]:
        bad.append("topKCounter")
    if {tuple(k.split("|")): tuple(v) for k, v in got["artist_state"].items()} \
            != want["artist_state"]:
        bad.append("artistStateCounts")
    if got["address_state"] != want["address_state"]:
        bad.append("latestByKey(addresses)")
    sizes = {"dim_customers": gen.N_CUST, "dim_addresses": gen.N_CUST + gen.N_VENUE,
             "dim_artists": gen.N_ARTIST, "dim_venues": gen.N_VENUE, "dim_events": gen.N_EVENT}
    if got["dim_keys"] != sizes:
        bad.append("latestByKey(keys)")
    files = glob.glob(os.path.join(work, "sink", "route=*", "batch_id=*", "*.parquet"))
    sink = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files \
        else pd.DataFrame(columns=["ticketId"])
    if sink["ticketId"].duplicated().any():
        bad.append("sink(exactly-once)")
    ledger = {r.ticketId: (r.customerid, r.eventid, r.confirmationStatus,
                           float(r.remaining), r.route) for r in sink.itertuples()}
    if ledger != want["ledger"]:
        bad.append("capacityLedger")
    return bad


# ----------------------------------------------------------------- metrics

def median(xs):
    xs = sorted(xs)
    n = len(xs)
    return (xs[n // 2] + xs[(n - 1) // 2]) / 2.0


def end_to_end(workload, res):
    """``pass_s``: median wall time of a catalog pass or of one stream trigger
    through every twin. ``op_p50_ms``: median wall time of one operation, a
    catalog query (build + result write) or a fact micro-batch."""
    if workload == "catalog":
        passes = res["pass_s"]
        ops = [v * 1000.0 for v in res["query_s"].values()]
    else:
        passes = [ms / 1000.0 for ms in res["round_ms"]]
        ops = res["batch_ms"]
    print(f"[perfbench] {workload}: passes_s={[round(x, 3) for x in passes]}, "
          f"n={len(ops)} ops", file=sys.stderr)
    return {"setup_s": (res["setup_s"], "s"), "pass_s": (median(passes), "s"),
            "op_p50_ms": (median(ops), "ms")}


# Per-layer metrics every traced run prints; a layer a workload does not
# use reads 0 there.
LAYER_METRICS = [
    "queries.build_s", "fixtures.build_s", "fixtures.jobs",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.delay_s", "sched.jobs_per_batch",
    "host.job1_ms", "host.jobN_ms",
    "exec.run_s", "exec.cpu_s", "exec.gc_s",
    "scan.input_mb", "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s", "spill.mb",
    "batch.queryPlanning_ms", "batch.addBatch_ms", "batch.walCommit_ms", "batch.commitOffsets_ms",
    "state.commit_ms", "state.updates_ms", "state.rows_total", "state.memory_mb",
    "sink.commit_ms", "jvm.peak_rss_mb"]


def per_layer(res, trace_file):
    layers = dict.fromkeys(LAYER_METRICS, 0.0)
    layers.update(res["layers"])
    layers.update(res["host"])
    layers["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    tree = spans.self_times(trace_file)
    m = {k: (layers[k], unit_of(k)) for k in LAYER_METRICS}
    for layer, s in tree["self_s"].items():
        m[f"self.{layer}_s"] = (s, "s")
    m["trace.wall_s"] = (tree["wall_s"], "s")
    m["trace.accounted_pct"] = (tree["accounted_pct"], "%")
    m["trace.overhead_ms"] = (res["trace_record_ms"] + res["probe_callback_ms"], "ms")
    return m


def unit_of(key):
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), (".mb", "MB")):
        if key.endswith(suffix):
            return unit
    return "count"


# -------------------------------------------------------------------- main

def main():
    start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["catalog", "stream-small"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    args = ap.parse_args()

    os.makedirs(WORK, exist_ok=True)
    classes, built = build(start)
    # a run that had to build may take longer; the checks need ~20 s at most
    deadline = start + (BUILD_DEADLINE_S if built else DEADLINE_S)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        if args.workload == "catalog":
            inputs = CATALOG_DATA
        else:
            gen.stream_inputs(args.seed, STREAM_FACTS, inputs)
        res = run_jvm(classes, args.workload, args.seconds, args.trace, inputs, work, deadline)
        bad = (check_catalog(res, inputs, work) if args.workload == "catalog"
               else check_stream(res, args.seed, STREAM_FACTS, work))
        for b in bad:
            print(f"[perfbench] wrong output: {b}", file=sys.stderr)
        if args.trace:
            trace_file = os.path.join(WORK, f"trace-{args.workload}.jsonl")
            spans.write_tree(os.path.join(work, "spans.jsonl"), trace_file,
                             f"{args.workload}-{args.seed}-{os.getpid()}")
            metrics = per_layer(res, trace_file)
        else:
            metrics = end_to_end(args.workload, res)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not bad,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))
    sys.exit(0 if not bad else 1)


if __name__ == "__main__":
    main()
