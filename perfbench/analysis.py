"""Turns a run's raw record into the benchmark's metrics.

Pure functions over plain data (the JVM's record, the streaming
checkpoint's file-source log, query results), so the self-tests can
drive each step on hand-built inputs.
"""
import datetime as dt
import json
import math
import os
import statistics
from collections import Counter

# ---------------------------------------------------------------------------
# percentiles


def weighted_percentile(samples, p):
    """Nearest-rank percentile of (value, weight) samples.

    Refuses (ValueError) unless at least ten samples lie beyond the
    rank, so a tail figure is never read off a handful of points."""
    pairs = sorted((v, w) for v, w in samples if w > 0)
    n = sum(w for _, w in pairs)
    rank = max(1, math.ceil(p * n))
    if n - rank < 10:
        raise ValueError(f"p{p * 100:g} needs 10 samples beyond it; have {n - rank} of {n}")
    seen = 0
    for v, w in pairs:
        seen += w
        if seen >= rank:
            return v
    return pairs[-1][0]


# ---------------------------------------------------------------------------
# streaming: progress and the checkpoint's file-source log


def parse_ts_ms(ts):
    """Progress timestamps are ISO-8601 UTC with millisecond precision."""
    t = dt.datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)


def batch_end_ms(progress):
    """End of a micro-batch: trigger start plus its trigger execution."""
    return parse_ts_ms(progress["timestamp"]) + progress["durationMs"].get("triggerExecution", 0)


def read_file_log(sources_dir):
    """File name -> batch id from a file source's metadata log.

    The log holds one file per batch (`N`) and, every few batches, a
    compacted file (`N.compact`) that repeats all earlier entries; the
    checksum files (`.N.crc`) are not log entries. Each data file is
    counted once whatever the number of files that list it."""
    out = {}
    for name in sorted(os.listdir(sources_dir)):
        if name.startswith(".") or name.endswith(".crc"):
            continue
        stem = name[:-len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue
        with open(os.path.join(sources_dir, name)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # the version header ("v1")
                entry = json.loads(line)
                base = entry["path"].rstrip("/").rsplit("/", 1)[-1]
                out.setdefault(base, int(entry["batchId"]))
    return out


def query_logs(checkpoint_root):
    """query id -> (file name -> batch id) for every query checkpoint."""
    logs = {}
    for d in sorted(os.listdir(checkpoint_root)):
        meta = os.path.join(checkpoint_root, d, "metadata")
        src = os.path.join(checkpoint_root, d, "sources", "0")
        if not (os.path.isfile(meta) and os.path.isdir(src)):
            continue
        with open(meta) as f:
            qid = json.loads(f.readline())["id"]
        logs[qid] = read_file_log(src)
    return logs


def topic_of(name):
    return name.split("-", 1)[0]


def _log_offset(offset):
    """A file source offset is {"logOffset": N}; the first batch starts at none."""
    if isinstance(offset, str):
        offset = json.loads(offset)
    return -1 if offset is None else int(offset["logOffset"])


def file_latencies(files, progress, logs):
    """Per published file: (latency ms, events, end ms) from its due time
    to the end of the last micro-batch that carried it into a metric
    table, over every query that reads its topic. The file-source log
    numbers its entries by source batch, which skips the no-data
    micro-batches, so a file's micro-batch is the one whose source offset
    range (start, end] holds its log entry. Returns (samples, missing)."""
    ranges = {}
    for p in progress:
        src = p["sources"][0]
        ranges.setdefault(p["id"], []).append(
            (_log_offset(src.get("startOffset")), _log_offset(src.get("endOffset")),
             batch_end_ms(p)))
    readers = {}
    for qid, log in logs.items():
        for name in log:
            readers.setdefault(topic_of(name), set()).add(qid)
    samples, missing = [], []
    for f in files:
        end = None
        for qid in readers.get(f["topic"], set()):
            entry = logs[qid].get(f["name"])
            e = next((e for lo, hi, e in ranges.get(qid, []) if entry is not None and lo < entry <= hi),
                     None)
            if e is None:
                end = None
                break
            end = e if end is None else max(end, e)
        if end is None:
            missing.append(f["name"])
        else:
            samples.append((end - f["due_ms"], f["events"], end))
    return samples, missing


def backlog_max(files, samples):
    """Most files published but not yet in the sink at any publish instant."""
    done = sorted(s[2] for s in samples)
    pubs = sorted(f["published_ms"] for f in files)
    worst = 0
    for i, t in enumerate(pubs):
        finished = sum(1 for e in done if e <= t)
        worst = max(worst, i + 1 - finished)
    return worst


def stream_layers(stream, exec_units):
    """streaming.*, state.* and sources.list_ms from the progress events
    of the timed part (micro-batches that started after the warm-up)."""
    prog = [p for p in stream["progress"]
            if parse_ts_ms(p["timestamp"]) >= stream.get("warm_end_ms", 0)]
    dur = lambda k: sum(p["durationMs"].get(k, 0) for p in prog)
    trig = [p["durationMs"].get("triggerExecution", 0) for p in prog]
    inputs = sum(p.get("numInputRows", 0) for p in prog)
    dedup_out = sum(op.get("numRowsUpdated", 0) for p in prog
                    for op in p.get("stateOperators", []) if "dedup" in op["operatorName"].lower())
    dropped = sum(op.get("numRowsDroppedByWatermark", 0) for p in prog
                  for op in p.get("stateOperators", []))
    last = {}
    for p in stream["progress"]:
        if p["id"] not in last or p["batchId"] > last[p["id"]]["batchId"]:
            last[p["id"]] = p
    ops = [op for p in last.values() for op in p.get("stateOperators", [])]
    stream_units = [u for k, u in exec_units.items() if k.startswith("stream:")]
    n = max(1, len(prog))
    return {
        "sources.list_ms": dur("latestOffset") + dur("getBatch"),
        "streaming.triggers": len(prog),
        "streaming.trigger_p50_ms": statistics.median(trig) if trig else 0,
        "streaming.trigger_max_ms": max(trig, default=0),
        "streaming.planning_ms": dur("queryPlanning"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.commit_ms": dur("walCommit") + dur("commitOffsets"),
        "streaming.jobs_per_trigger": sum(u["jobs"] for u in stream_units) / n,
        "streaming.stages_per_trigger": sum(u["stages"] for u in stream_units) / n,
        "streaming.dup_removed_ratio": 1 - dedup_out / inputs if inputs else 0,
        "state.dedup_rows": sum(op.get("numRowsTotal", 0) for op in ops
                                if "dedup" in op["operatorName"].lower()),
        "state.agg_rows": sum(op.get("numRowsTotal", 0) for op in ops
                              if "dedup" not in op["operatorName"].lower()),
        "state.memory_bytes": sum(op.get("memoryUsedBytes", 0) for op in ops),
        "state.dropped_by_watermark": dropped,
    }


# ---------------------------------------------------------------------------
# correctness


def compare_rows(expected, actual):
    """Multiset difference of canonical rows: (missing, unexpected)."""
    e, a = Counter(expected), Counter(actual)
    return sorted((e - a).elements()), sorted((a - e).elements())


def _num(x):
    try:
        return float(x)
    except ValueError:
        return None


def rows_match(a, b, tol=0.0100001):
    """Same fields, except that decimals may differ by one unit of the
    program's 2-dp rounding: a half-cent tie rounds either way depending
    on the order a sum was accumulated in (micro-batches vs one batch)."""
    fa, fb = a.split("|"), b.split("|")
    if len(fa) != len(fb):
        return False
    for x, y in zip(fa, fb):
        if x == y:
            continue
        nx, ny = _num(x), _num(y)
        decimal = any(c in x + y for c in ".E")
        if nx is None or ny is None or not decimal or abs(nx - ny) > tol:
            return False
    return True


def gate_table(expected, actual, n_keys):
    """Rows that fail the gate: (missing, unexpected) after pairing
    rows by key under `rows_match`; also the number of tolerated ties."""
    missing, extra = compare_rows(expected, actual)
    key = lambda r: "|".join(r.split("|")[:n_keys])
    by_key = {}
    for r in extra:
        by_key.setdefault(key(r), []).append(r)
    left, ties = [], 0
    for r in missing:
        cands = by_key.get(key(r), [])
        hit = next((c for c in cands if rows_match(r, c)), None)
        if hit is None:
            left.append(r)
        else:
            cands.remove(hit)
            ties += 1
    return left, [r for rs in by_key.values() for r in rs], ties


def stream_gate(check, manifest_malformed):
    """One operation per metric table plus the corrupt-line count.
    Returns (attempted, failures: list of text)."""
    failures = []
    for name, t in sorted(check["tables"].items()):
        missing, extra, _ = gate_table(t["expected"], t["actual"], t["keys"])
        if not t["expected"]:
            failures.append(f"{name}: no expected rows")
        elif missing or extra:
            failures.append(f"{name}: {len(missing)} expected rows missing, "
                            f"{len(extra)} unexpected (first {(missing + extra)[:1]})")
    if check["corrupt_rows"] != manifest_malformed:
        failures.append(f"corrupt rows {check['corrupt_rows']} != injected {manifest_malformed}")
    return len(check["tables"]) + 1, failures


def norm_rows(rows, cols):
    """Rows as sorted text with columns in name order, floats at 6 dp."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
                if v == 0:
                    v = 0.0
            vals.append(repr(v))
        out.append("|".join(vals))
    return sorted(out)


def batch_gate(con, results_dir, oracle_sql, names):
    """Each query's Spark result against its DuckDB oracle on the same
    tables (`con` has them as views). Returns a list of failure texts."""
    failures = []
    for name in names:
        if name not in oracle_sql:
            failures.append(f"{name}: no oracle")
            continue
        got = con.execute(f"SELECT * FROM '{results_dir}/{name}/*.parquet'")
        gcols = [d[0] for d in got.description]
        g = norm_rows(got.fetchall(), gcols)
        want = con.execute(oracle_sql[name])
        wcols = [d[0] for d in want.description]
        w = norm_rows(want.fetchall(), wcols)
        if sorted(gcols) != sorted(wcols):
            failures.append(f"{name}: columns {sorted(gcols)} vs oracle {sorted(wcols)}")
            continue
        missing, extra = compare_rows(w, g)
        if missing or extra:
            failures.append(f"{name}: {len(g)} rows vs oracle {len(w)}; "
                            f"{len(missing)} missing, {len(extra)} unexpected")
    return failures
