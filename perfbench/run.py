#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles the
program (src/main/scala) and the benchmark harness (perfbench/scala) with
the Scala compiler that ships in Spark's jar directory, into
.bench_build/. Inputs are generated from the seed and cached per
(workload, seed) under .bench_build/inputs/. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
run also attaches Spark listeners and spans and reports the per-layer
metrics instead. The exit code is 0 only when every output check passed.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import analysis  # noqa: E402
import gen  # noqa: E402

BUILD = ".bench_build"
RATE = 500  # paced events per second; the trigger cost is fixed-dominated either way
WORKLOADS = ("stream_ref_paced", "batch_queries")
# One query per target: gram hashing and construction-time pins (q105),
# a single-task stage (q116), a codegen vector kernel (q68), a join
# (q132) and the paper's metrics in batch (q12). They run
# in this order; the JVM gets the list through --queries.
BATCH_QUERIES = ("q12_funnel", "q132_tpch_q4", "q105_corpus_pipeline", "q116_mad_outliers",
                 "q68_pq_adc")

END_TO_END = ("setup_s", "work_s", "proc_cpu_s", "latency_p50_ms", "latency_p99_ms")
PER_LAYER = (
    ["sources.parse_events_per_s", "sources.list_ms", "sources.corrupt_rows",
     "streaming.events_per_s", "streaming.triggers", "streaming.trigger_p50_ms",
     "streaming.trigger_max_ms", "streaming.planning_ms", "streaming.add_batch_ms",
     "streaming.commit_ms", "streaming.jobs_per_trigger", "streaming.stages_per_trigger",
     "streaming.dup_removed_ratio",
     "state.dedup_rows", "state.agg_rows", "state.memory_bytes", "state.dropped_by_watermark",
     "sink.write_ms", "sink.rows", "sink.rows_per_trigger", "sink.failed_batches",
     "queries.construct_s", "queries.plan_s",
     "queries.exec_s"]
    + [f"queries.{q}.construct_s" for q in BATCH_QUERIES]
    + ["exec.task_cpu_s", "exec.tasks", "exec.stages", "exec.shuffle_write_bytes",
       "exec.spill_bytes", "exec.single_task_cpu_s", "exec.repeated_stages"]
    + [f"exec.{q}.task_cpu_s" for q in BATCH_QUERIES]
    + ["jvm.jit_ms", "jvm.gc_ms", "jvm.heap_peak_mb",
       "feeder.late_max_ms", "feeder.backlog_files_max",
       "trace.overhead_ms", "trace.overhead_share", "trace.spans"])

UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_bytes": "bytes", "_per_s": "1/s",
         "_ratio": "ratio", "_share": "ratio", "_per_trigger": "count"}


def unit_of(name):
    for suffix in sorted(UNITS, key=len, reverse=True):
        if name.endswith(suffix):
            return UNITS[suffix]
    return "count"


# The batch workload's tables come from one of these generator seeds,
# picked by the run's seed; their expected query fingerprints are in
# fingerprints.json, recorded from runs whose results matched DuckDB.
# The held-out seed, kept for confirming claims made on other seeds,
# has a table set of its own that no other seed uses.
BATCH_DATA_SEEDS = (101, 202, 303, 404)
HELD_OUT_SEED = 9001
HELD_OUT_DATA_SEED = 505
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")


def params(workload, seed, seconds):
    """Input size and shape per workload. The paced feed publishes one
    file per topic per second at ~RATE events/s (an order event, a
    payment event and ~4 item events per generated order). The stream
    workload's tables, and so its events, come from one generator seed;
    the run's seed picks how the events are sliced, re-sent and
    corrupted."""
    if workload == "stream_ref_paced":
        # two more files per topic than seconds: the untimed warm-up
        # feeds the first two at once to the same queries
        return {"sf": round((seconds + 2) * RATE / 6 / 1500000, 6), "files": seconds + 2,
                "data_seed": 1}
    return batch_params(HELD_OUT_DATA_SEED if seed == HELD_OUT_SEED
                        else BATCH_DATA_SEEDS[seed % len(BATCH_DATA_SEEDS)])


def batch_params(data_seed):
    return {"sf": 0.01, "files": 0, "data_seed": data_seed}


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit(f"Spark jars not found under {jars} (set SPARK_HOME)")
    return jars


# JDK 17 module opens Spark needs outside spark-submit (as build.sbt).
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def build(jars):
    """Compile program + harness once per source state; returns the class dir."""
    sources = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not sources or not harness:
        sys.exit("program sources (src/main/scala) or harness sources not found; "
                 "run from the repository root")
    h = hashlib.sha256()
    for p in sources + harness:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(out):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = os.path.join(jars, "*")
        cmd = [java_bin(), "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", cp] + sources + harness
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            sys.exit("compilation failed")
        os.rename(tmp, out)
    return out


def inputs(workload, seed, p):
    """(inputs dir of this workload and seed, tables dir shared by every
    run on the same generated tables)."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    d = os.path.join(BUILD, "inputs", f"{workload}-s{seed}-sf{p['sf']}-f{p['files']}-g{version}")
    tables = os.path.join(BUILD, "inputs", f"tables-d{p['data_seed']}-sf{p['sf']}-g{version}")
    if not os.path.isfile(os.path.join(tables, "done")):
        shutil.rmtree(tables, ignore_errors=True)
        gen.generate(tables, p["sf"], p["data_seed"])
        open(os.path.join(tables, "done"), "w").close()
    return d, tables


def run_jvm(classes, jars, args, work, deadline):
    log = os.path.join(work, "jvm.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ([java_bin(), "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-Dspark.ui.enabled=false"] + ADD_OPENS
           + ["-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Main"] + args)
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    return code, log


def stream_metrics(rec, manifest):
    st = rec["stream"]
    logs = analysis.query_logs(st["checkpoint_root"])
    samples, missing = analysis.file_latencies(st["files"], st["progress"], logs)
    work_s = 0.0
    if samples:
        work_s = (max(x[2] for x in samples) - min(f["due_ms"] for f in st["files"])) / 1000
    events = sum(f["events"] for f in st["files"])
    # one sample per event: its file's latency, weighted by its events
    pairs = [(s[0], s[1]) for s in samples]
    e2e = {"work_s": work_s,
           "latency_p50_ms": analysis.weighted_percentile(pairs, 0.50),
           "latency_p99_ms": analysis.weighted_percentile(pairs, 0.99)}
    layers = analysis.stream_layers(st, rec.get("exec", {}))
    layers["streaming.events_per_s"] = events / work_s if work_s else 0
    layers["feeder.backlog_files_max"] = analysis.backlog_max(st["files"], samples)
    failed_q = sum(q["failed"] for q in st["queries"])
    triggers = layers["streaming.triggers"]
    attempted, failures = analysis.stream_gate(
        rec["check"], sum(f["malformed"] for f in manifest))
    failures += [f"file {n} never reached the sink" for n in missing]
    failures += [f"{failed_q} streaming queries failed"] if failed_q else []
    return e2e, layers, attempted + triggers, failures


def batch_metrics(rec, data_seed):
    runs = rec["runs"]
    # a query's latency: construct + plan + execute, as its caller sees it
    lat = [(r["construct_s"] + r["plan_s"] + r["exec_s"]) * 1000 for r in runs]
    # Five queries give five samples: too few for the ten-beyond rule the
    # per-event stream percentiles follow. The median is that of the five;
    # their nearest-rank 99th percentile is the slowest query.
    e2e = {"work_s": sum(lat) / 1000, "latency_p50_ms": statistics.median(lat),
           "latency_p99_ms": max(lat)}
    layers = {
        "queries.construct_s": sum(r["construct_s"] for r in runs),
        "queries.plan_s": sum(r["plan_s"] for r in runs),
        "queries.exec_s": sum(r["exec_s"] for r in runs)}
    for q in BATCH_QUERIES:
        layers[f"queries.{q}.construct_s"] = sum(r["construct_s"] for r in runs if r["name"] == q)
        layers[f"exec.{q}.task_cpu_s"] = rec.get("exec", {}).get(q, {}).get("task_cpu_s", 0)
    with open(FINGERPRINTS) as f:
        want = json.load(f)[str(data_seed)]
    failures = [f"{r['name']}: fingerprint {r['fingerprint']} != recorded {want.get(r['name'])}"
                for r in runs if want.get(r["name"]) != r["fingerprint"]]
    return e2e, layers, 2 * len(runs), failures


def record_fingerprints(classes, jars):
    """Re-derive fingerprints.json: for every batch data seed, run the
    queries, check each result against its DuckDB oracle on the same
    tables, and keep the fingerprints only if all of them match."""
    import duckdb
    out = {}
    for ds in BATCH_DATA_SEEDS + (HELD_OUT_DATA_SEED,):
        rec, _, tables, work = run_jvm_record("batch_queries", ds, 0, batch_params(ds), classes,
                                              jars, time.time() + 900, record=True)
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb_tmp')}'")
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
        failures = analysis.batch_gate(con, rec["check"]["results"], rec["check"]["oracle_sql"],
                                       BATCH_QUERIES)
        if failures:
            sys.exit(f"data seed {ds}: results differ from DuckDB: {failures}")
        out[str(ds)] = {r["name"]: r["fingerprint"] for r in rec["runs"]}
        print(f"data seed {ds}: {len(rec['runs'])} results match DuckDB", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
    with open(FINGERPRINTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


def exec_layers(rec):
    units = rec.get("exec", {}).values()
    keys = ("task_cpu_s", "tasks", "stages", "shuffle_write_bytes", "spill_bytes",
            "single_task_cpu_s", "repeated_stages")
    return {f"exec.{k}": sum(u[k] for u in units) for k in keys}


def trace_summary(spans):
    """Self time per span name: duration minus what its children cover."""
    by_id = {s["id"]: s for s in spans}
    child = {}
    for s in spans:
        if s["parent"] in by_id:
            child.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        # children may run concurrently (micro-batch threads): subtract
        # the union of their intervals, clipped to the parent's
        cover, end = 0, s["start_ns"]
        for c in sorted(child.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], end), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                cover += hi - lo
                end = hi
        self_ns = (s["end_ns"] - s["start_ns"]) - cover
        agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        agg["count"] += 1
        agg["total_s"] += (s["end_ns"] - s["start_ns"]) / 1e9
        agg["self_s"] += self_ns / 1e9
    return out


def run_jvm_record(workload, seed, trace, p, classes, jars, deadline, record=False):
    """Runs the JVM for one workload; returns (record, inputs, tables, work)."""
    inp, tables = inputs(workload, seed, p)
    work = os.path.abspath(os.path.join(BUILD, "work", f"{workload}-{seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw = os.path.join(work, "record.json")
    args = ["--workload", workload, "--seed", str(seed), "--trace", str(trace),
            "--tables", os.path.abspath(tables), "--inputs", os.path.abspath(inp),
            "--work", work, "--out", raw, "--files", str(p["files"]),
            "--queries", ",".join(BATCH_QUERIES)]
    if record:
        args += ["--record", "1"]
    # The stream's events come from the program's generator in a JVM of
    # their own the first time a table set is used, so that their Spark
    # jobs do not warm up the JVM whose set-up is timed.
    steps = [args]
    if workload == "stream_ref_paced" and not all(
            os.path.isfile(os.path.join(tables, f"events-{t}.txt"))
            for t in ("orders", "items", "payments")):
        steps.insert(0, args + ["--inputs-only", "1"])
    for step in steps:
        code, log = run_jvm(classes, jars, step, work, deadline)
        if code != 0 or not os.path.isfile(raw):
            with open(log) as f:
                sys.stderr.write(f.read()[-6000:])
            sys.exit(f"benchmark JVM exited with {code}")
    with open(raw) as f:
        rec = json.load(f)
    shutil.copy(raw, os.path.join(BUILD, f"last-{workload}.json"))
    return rec, inp, tables, work


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="re-derive fingerprints.json against DuckDB (batch_queries)")
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    if a.record_fingerprints:
        record_fingerprints(classes, jars)
        return
    if a.seed is None or a.seconds is None:
        ap.error("--seed and --seconds are required")
    deadline = time.time() + 170
    p = params(a.workload, a.seed, a.seconds)
    rec, inp, tables, work = run_jvm_record(a.workload, a.seed, a.trace, p, classes, jars,
                                            deadline)

    if a.workload == "batch_queries":
        e2e, layers, attempted, failures = batch_metrics(rec, p["data_seed"])
    else:
        with open(os.path.join(inp, "staged", "manifest.json")) as f:
            manifest = json.load(f)
        e2e, layers, attempted, failures = stream_metrics(rec, manifest)
    e2e["setup_s"] = rec["setup_s"]
    e2e["proc_cpu_s"] = rec["proc_cpu_s"]

    if a.trace:
        layers.update(exec_layers(rec))
        jvm = rec["jvm"]
        layers.update({"jvm.jit_ms": jvm["jit_ms"], "jvm.gc_ms": jvm["gc_ms"],
                       "jvm.heap_peak_mb": jvm["heap_peak_mb"]})
        for group, vals in rec.get("layers", {}).items():
            for k, v in vals.items():
                layers[f"{group}.{k}"] = v
        sink = rec.get("layers", {}).get("sink", {})
        if a.workload == "stream_ref_paced":
            layers["sink.rows"] = sum(len(t["actual"]) for t in rec["check"]["tables"].values())
        if sink.get("sink_batches"):
            layers["sink.rows_per_trigger"] = layers["sink.rows"] / sink["sink_batches"]
        layers["sources.corrupt_rows"] = rec["check"].get("corrupt_rows", 0)
        layers["trace.overhead_ms"] = rec["trace_overhead_ms"]
        layers["trace.overhead_share"] = rec["trace_overhead_ms"] / (rec["wall_s"] * 1000)
        layers["trace.spans"] = len(rec["spans"])
        metrics = {k: {"value": layers.get(k, 0), "unit": unit_of(k)} for k in PER_LAYER}
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        with open(os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"spans": rec["spans"], "self_time": trace_summary(rec["spans"]),
                       "layers": layers, "end_to_end_traced": e2e}, f, indent=1)
    else:
        metrics = {k: {"value": e2e[k], "unit": unit_of(k)} for k in END_TO_END}

    for msg in failures:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
