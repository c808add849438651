#!/usr/bin/env python3
"""Benchmark for graft: two workloads, each run in one JVM on local[nproc-1].

    python3 graftbench/run.py --workload <essentials|stream> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The script compiles the engine and the
harness in `graftbench/src` with scalac against the Spark jars, runs the
workload on the tables in `graftbench/data/sf0.01` (a read-only copy of the
project's seed-fixed sf0.01 test tables), checks its outputs and prints one
JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones (latency, throughput,
retained heap, set-up time); with `--trace 1` they are the per-layer ones,
and the spans behind them are written to `.bench_build/trace/`. A per-layer
metric that a workload does not exercise (the stream has no table opens,
the batch loop no micro-batches) prints as 0 and is named on stderr. Builds,
oracle results and counts are cached under `.bench_build/`.

Workloads:
  essentials  closed loop, one client, 21 Flink-essentials, TPC-H and
              curation keys on sf0.01 tables, one of them served from a
              store built during set-up: per-query fixed cost dominates.
  stream      StreamingOps.keyedTumblingCounts in append mode over a memory
              stream: an open loop at a fixed rate (latency from an event's
              due time to its window's emission, one sample per emitting
              batch), then the drain of a fixed backlog (throughput).

Outputs are checked: batch results against each key's DuckDB oracle SQL,
stream window counts against the generator's own tallies. A mismatch is
counted in `failed` and the script exits with status 1.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
DATA = os.path.join(os.path.relpath(HERE), "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORKLOADS = ["essentials", "stream"]
JVM_TIMEOUT_S = 165
HEAP = "2g"
# one core is left to the driver thread, the JIT compilers and the GC
CPUS = max(1, min(4, (os.cpu_count() or 2) - 1))

END_TO_END = [
    ("latency_p50_ms", "ms"), ("latency_p75_ms", "ms"), ("throughput_per_s", "1/s"),
    ("retained_heap_mb", "MB"), ("setup_s", "s")]
PER_LAYER = [
    ("engine.session_ms", "ms"), ("engine.table_open_ms", "ms"),
    ("engine.table_open_jobs", "count"), ("engine.store_build_ms", "ms"),
    ("engine.store_bytes_written", "bytes"), ("construct.ms", "ms"),
    ("construct.jobs", "count"), ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"),
    ("plan.planning_ms", "ms"), ("plan.ms", "ms"), ("exec.ms", "ms"),
    ("exec.driver_gap_ms", "ms"), ("exec.jobs", "count"), ("exec.tasks", "count"),
    ("exec.cpu_ms", "ms"), ("exec.run_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.fetch_wait_ms", "ms"), ("exec.spill_bytes", "bytes"), ("exec.max_task_ms", "ms"),
    ("exec.busy_ratio", "ratio"), ("stream.batches", "count"),
    ("stream.tasks_per_batch", "count"), ("stream.planning_ms", "ms"),
    ("stream.add_batch_ms", "ms"), ("stream.wal_commit_ms", "ms"),
    ("stream.state_commit_ms", "ms"), ("stream.state_rows", "count"),
    ("stream.state_mem_bytes", "bytes"), ("stream.watermark_lag_ms", "ms"),
    ("stream.dropped_by_watermark", "count"), ("stream.backlog_events", "count"),
    ("stream.generator_late_ms", "ms"), ("host.calib_ms", "ms"), ("warmup.rounds", "count"),
    ("trace.overhead_pct", "%"), ("trace.worst_key_pct", "%")]
# The per-layer metrics each workload measures. The batch loop has no
# micro-batches; the stream opens no table, builds no store and runs one
# long query, so per-query planning and tracing overhead do not apply.
MEASURED = {
    "essentials": {n for n, _ in PER_LAYER if not n.startswith("stream.")},
    "stream": {n for n, _ in PER_LAYER if n.startswith("stream.")} | {
        "engine.session_ms", "construct.ms", "construct.jobs", "exec.jobs", "exec.tasks",
        "exec.cpu_ms", "exec.run_ms", "exec.gc_ms", "exec.shuffle_read_bytes",
        "exec.shuffle_write_bytes", "exec.fetch_wait_ms", "exec.spill_bytes",
        "exec.max_task_ms", "host.calib_ms", "warmup.rounds"},
}
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open("build.sbt") as f:
        for line in f:
            if line.strip().startswith("unmanagedBase"):
                return line.split('file("', 1)[1].split('"', 1)[0]
    raise SystemExit("graftbench: no Spark jars (set SPARK_HOME)")


def build(jars):
    """Compile engine + harness sources once per source hash; returns the class dir."""
    here = os.path.relpath(HERE)
    sources = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True) +
                     glob.glob(os.path.join(here, "src", "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for s in sources:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()[:16]
    out = os.path.join(BUILD, f"classes-{digest}")
    if not os.path.isdir(out):
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            shutil.rmtree(old)
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        log(f"compiling {len(sources)} sources")
        t0 = time.time()
        done = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
                               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + sources,
                              stdout=sys.stderr)
        if done.returncode != 0:
            raise SystemExit("graftbench: compilation failed")
        os.rename(tmp, out)
        log(f"compiled in {time.time() - t0:.1f} s")
    return out, digest


def norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    return v


def canon(cols, rows):
    """Columns sorted by name, rows by value — the repo's oracle-gate canonical form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(norm(r[i]) for i in order) for r in rows),
                 key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out


def fingerprint(data_dir):
    """Hash of the input tables: the key of the oracle and counts caches."""
    h = hashlib.sha256()
    for t in TABLES:
        h.update(t.encode())
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def check_batch(work, data_dir, data_fp):
    """Compare each key's Spark result with its oracle SQL in DuckDB; the
    oracle side is cached per data fingerprint and SQL text."""
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    cache_path = os.path.join(BUILD, "oracle", f"{data_fp}.pkl")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path, "rb") as f:
            cache = pickle.load(f)
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    wrong = []
    for key, sql in sorted(oracle.items()):
        sql_id = hashlib.sha256(sql.encode()).hexdigest()
        try:
            if sql_id not in cache:
                exp = con.execute(sql)
                cache[sql_id] = canon([d[0] for d in exp.description], exp.fetchall())
            got = con.execute(
                f"SELECT * FROM read_parquet('{work}/results/{key}/*.parquet')")
            if canon([d[0] for d in got.description], got.fetchall()) != cache[sql_id]:
                wrong.append(key)
        except Exception as e:  # a missing result or a failing oracle is a mismatch
            log(f"{key}: check error {str(e)[:200]}")
            wrong.append(key)
    con.close()
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    with open(cache_path + ".tmp", "wb") as f:
        pickle.dump(cache, f)
    os.replace(cache_path + ".tmp", cache_path)
    return wrong


def check_counts(workload, seed, code, data_fp, res):
    """Counts of a traced run must repeat exactly within the run and across
    runs of the same code on the same inputs. Returns an error or None."""
    if not res.get("counts_exact", False):
        return "counts differ between passes of this run"
    tag = f"{workload}-{code}-{data_fp[:16]}" + (f"-{seed}" if workload == "stream" else "")
    path = os.path.join(BUILD, "counts", f"{tag}.json")
    counts = res.get("counts", {})
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        if prev != counts:
            return f"counts differ from an earlier run: {prev} != {counts}"
    else:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(counts, f, sort_keys=True)
    return None


def run_jvm(args, classes, jars, data_dir, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(CPUS)
    env["SPARK_GRAFT_CONF"] = (f"spark.sql.warehouse.dir={os.path.abspath(work)}/warehouse;"
                               f"spark.local.dir={os.path.abspath(tmp)}")
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] +
           [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "graftbench.Main",
            args.workload, str(args.seed), str(args.seconds), str(args.trace),
            os.path.abspath(data_dir), os.path.abspath(work)])
    log_path = os.path.join(BUILD, "logs", f"{args.workload}-{args.seed}-{args.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log_file:
        spawn = time.time()
        proc = subprocess.Popen(cmd, env=env, stdout=log_file, stderr=log_file,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"graftbench: the JVM did not finish in {JVM_TIMEOUT_S} s; see {log_path}")
    if code != 0:
        raise SystemExit(f"graftbench: the JVM exited with {code}; see {log_path}")
    shutil.copy(os.path.join(work, "result.json"), log_path[:-len(".log")] + ".result.json")
    with open(os.path.join(work, "result.json")) as f:
        return spawn, json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir("src/main/scala/graft"):
        raise SystemExit("graftbench: run from the root of a graft checkout (src/main/scala missing)")

    jars = spark_jars()
    classes, code = build(jars)
    data_fp = fingerprint(DATA)

    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        spawn, res = run_jvm(args, classes, jars, DATA, work)
        failed = int(res["failed"])
        if args.workload != "stream":
            wrong = check_batch(work, DATA, data_fp)
            if wrong:
                log(f"outputs differ from the oracle: {', '.join(wrong)}")
            failed += len(wrong)
        count_error = check_counts(args.workload, args.seed, code, data_fp, res) \
            if args.trace else None
        if args.trace:
            trace_dir = os.path.join(BUILD, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["setup_s"] = res["ready_epoch_ms"] / 1000.0 - spawn
    res["warmup.rounds"] = res["warmup_rounds"]
    if args.trace:
        wanted = PER_LAYER
        measured = MEASURED[args.workload]
        log(f"{args.workload}: not measured on this workload, printed as 0: "
            f"{', '.join(n for n, _ in PER_LAYER if n not in measured)}")
    else:
        wanted = END_TO_END
        measured = {n for n, _ in END_TO_END}
    missing = sorted(n for n in measured if not isinstance(res.get(n), (int, float)))
    if missing:
        raise SystemExit(f"graftbench: the run reported no {', '.join(missing)}")
    metrics = {name: {"value": float(res[name]) if name in measured else 0.0, "unit": unit}
               for name, unit in wanted}
    log(f"{args.workload}: samples={res['samples']} warm-up rounds={res['warmup.rounds']} "
        f"attempted={res['attempted']} failed={failed}")
    if "reconcile_pct" in res:
        key, pct = max(res["reconcile_pct"].items(), key=lambda kv: abs(kv[1]))
        log(f"{args.workload}: traced against untraced latency, pooled {res['trace.overhead_pct']:+.2f}%, "
            f"worst key {key} {pct:+.1f}%")
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    if count_error:
        log(f"{args.workload}: {count_error}")
    correct = failed == 0 and count_error is None
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
