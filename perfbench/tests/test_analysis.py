"""Self-tests of the benchmark's analysis: the latency join against a
hand-built checkpoint log, the percentile rule, and the correctness
gates. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import analysis  # noqa: E402
import run  # noqa: E402


def write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def log_lines(entries):
    return "v1\n" + "".join(json.dumps(
        {"path": f"file:///data/src/{topic_dir}/{name}", "timestamp": 0, "batchId": b,
         "action": "add"}) + "\n" for topic_dir, name, b in entries)


def progress(qid, batch, start_iso, trigger_ms, log_from, log_to):
    """A micro-batch that read source log entries (log_from, log_to]."""
    return {"id": qid, "batchId": batch, "timestamp": start_iso,
            "durationMs": {"triggerExecution": trigger_ms},
            "sources": [{"startOffset": None if log_from < 0 else {"logOffset": log_from},
                         "endOffset": {"logOffset": log_to}}]}


class LatencyJoinTest(unittest.TestCase):
    def setUp(self):
        self.root = tempfile.mkdtemp()
        # query A reads orders: batch 0 = o-0, batch 1 = o-1, batch 2 = o-2,
        # with a compacted log at 2 that repeats the earlier entries and
        # checksum files that are not log entries
        a = os.path.join(self.root, "funnel")
        write(os.path.join(a, "metadata"), json.dumps({"id": "A"}) + "\n")
        src = os.path.join(a, "sources", "0")
        write(os.path.join(src, "0"), log_lines([("orders", "orders-00000.json", 0)]))
        write(os.path.join(src, "1"), log_lines([("orders", "orders-00001.json", 1)]))
        write(os.path.join(src, "2.compact"), log_lines([
            ("orders", "orders-00000.json", 0), ("orders", "orders-00001.json", 1),
            ("orders", "orders-00002.json", 2)]))
        write(os.path.join(src, ".2.compact.crc"), "\x00garbage")
        write(os.path.join(src, ".1.crc"), "\x00garbage")
        # query B also reads orders but took o-0 and o-1 in one batch
        b = os.path.join(self.root, "drop_off")
        write(os.path.join(b, "metadata"), json.dumps({"id": "B"}) + "\n")
        write(os.path.join(b, "sources", "0", "0"), log_lines([
            ("orders", "orders-00000.json", 0), ("orders", "orders-00001.json", 0)]))
        write(os.path.join(b, "sources", "0", "1"), log_lines([
            ("orders", "orders-00002.json", 1)]))
        # micro-batch ids run ahead of source log ids after a no-data batch
        self.progress = [
            progress("A", 0, "2026-01-01T00:00:01.000Z", 500, -1, 0),  # ends 1.5 s
            progress("A", 1, "2026-01-01T00:00:01.600Z", 100, 0, 0),   # no data
            progress("A", 2, "2026-01-01T00:00:02.000Z", 1000, 0, 1),  # ends 3.0 s
            progress("A", 3, "2026-01-01T00:00:04.000Z", 1000, 1, 2),  # ends 5.0 s
            progress("B", 0, "2026-01-01T00:00:01.000Z", 3000, -1, 0),  # ends 4.0 s
            progress("B", 1, "2026-01-01T00:00:04.500Z", 500, 0, 1)]   # ends 5.0 s
        t0 = analysis.parse_ts_ms("2026-01-01T00:00:00.000Z")
        self.files = [{"name": f"orders-0000{k}.json", "topic": "orders", "due_ms": t0 + 1000 * k,
                       "published_ms": t0 + 1000 * k, "events": 10 * (k + 1)} for k in range(3)]

    def test_log_reads_compact_once_and_skips_crc(self):
        log = analysis.read_file_log(os.path.join(self.root, "funnel", "sources", "0"))
        self.assertEqual(log, {"orders-00000.json": 0, "orders-00001.json": 1,
                               "orders-00002.json": 2})

    def test_file_latency_is_last_reader_batch_end_minus_due(self):
        logs = analysis.query_logs(self.root)
        samples, missing = analysis.file_latencies(self.files, self.progress, logs)
        self.assertEqual(missing, [])
        # o-0: max(A 1.5 s, B 4.0 s) - 0 s; o-1: max(3.0, 4.0) - 1; o-2: 5.0 - 2
        self.assertEqual([(s[0], s[1]) for s in samples], [(4000, 10), (3000, 20), (3000, 30)])
        self.assertEqual(analysis.backlog_max(self.files, samples), 3)

    def test_file_missing_from_one_reader_is_reported(self):
        logs = analysis.query_logs(self.root)
        del logs["B"]["orders-00002.json"]
        _, missing = analysis.file_latencies(self.files, self.progress, logs)
        self.assertEqual(missing, ["orders-00002.json"])


class PercentileTest(unittest.TestCase):
    def test_weighted_nearest_rank(self):
        samples = [(float(v), 1) for v in range(1, 1001)]
        self.assertEqual(analysis.weighted_percentile(samples, 0.5), 500.0)
        self.assertEqual(analysis.weighted_percentile(samples, 0.99), 990.0)
        self.assertEqual(analysis.weighted_percentile([(1.0, 900), (9.0, 100)], 0.95), 9.0)

    def test_needs_ten_samples_beyond(self):
        samples = [(float(v), 1) for v in range(1, 1001)]
        analysis.weighted_percentile(samples, 0.99)  # 1000 - 990 = 10 beyond
        with self.assertRaises(ValueError):
            analysis.weighted_percentile(samples[:999], 0.99)  # 999 - 990 = 9 beyond
        with self.assertRaises(ValueError):
            analysis.weighted_percentile([(1.0, 1)] * 19, 0.5)


class GateTest(unittest.TestCase):
    rows = ["1995-01-01 00:00:00|1995-01-01 00:01:00|1000.25|4|3|250.06",
            "1995-01-02 00:00:00|1995-01-02 00:01:00|20.5|1|1|20.5"]

    def check(self, actual, corrupt=3):
        return {"tables": {"gmv_metrics": {"expected": self.rows, "actual": actual, "keys": 2}},
                "corrupt_rows": corrupt}

    def test_equal_rows_pass(self):
        attempted, failures = analysis.stream_gate(self.check(list(reversed(self.rows))), 3)
        self.assertEqual((attempted, failures), (2, []))

    def test_one_perturbed_value_fails(self):
        bad = [self.rows[0].replace("|4|", "|5|"), self.rows[1]]
        _, failures = analysis.stream_gate(self.check(bad), 3)
        self.assertEqual(len(failures), 1)
        bad = [self.rows[0], self.rows[1].replace("|20.5|1", "|20.6|1")]
        _, failures = analysis.stream_gate(self.check(bad), 3)
        self.assertEqual(len(failures), 1)

    def test_missing_or_duplicated_row_fails(self):
        self.assertEqual(len(analysis.stream_gate(self.check(self.rows[:1]), 3)[1]), 1)
        self.assertEqual(len(analysis.stream_gate(self.check(self.rows + self.rows[:1]), 3)[1]), 1)

    def test_half_cent_tie_is_tolerated(self):
        tie = [self.rows[0].replace("250.06", "250.07"), self.rows[1]]
        self.assertEqual(analysis.stream_gate(self.check(tie), 3)[1], [])

    def test_corrupt_count_must_match_injected(self):
        self.assertEqual(len(analysis.stream_gate(self.check(self.rows, corrupt=2), 3)[1]), 1)

    def test_batch_fingerprint_mismatch_fails(self):
        with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
            json.dump({"7": {"q1": "5/10/3", "q2": "1/2/3"}}, f)
        saved, run.FINGERPRINTS = run.FINGERPRINTS, f.name
        try:
            runs = [{"name": "q1", "construct_s": 0.1, "plan_s": 0.0, "exec_s": 0.2,
                     "rows": 600, "fingerprint": "5/10/3"},
                    {"name": "q2", "construct_s": 0.1, "plan_s": 0.0, "exec_s": 0.3,
                     "rows": 600, "fingerprint": "1/2/4"}]
            _, _, attempted, failures = run.batch_metrics({"runs": runs}, 7)
        finally:
            run.FINGERPRINTS = saved
            os.unlink(f.name)
        self.assertEqual(attempted, 4)
        self.assertEqual(len(failures), 1)
        self.assertIn("q2", failures[0])

    def test_batch_latency_is_each_query_own_time(self):
        runs = [{"name": f"q{k}", "construct_s": 0.1 * k, "plan_s": 0.0, "exec_s": 1.0,
                 "rows": 1, "fingerprint": ""} for k in range(1, 4)]
        with tempfile.NamedTemporaryFile("w", suffix=".json") as f:
            json.dump({"7": {}}, f)
            f.flush()
            with mock.patch.object(run, "FINGERPRINTS", f.name):
                e2e, _, _, _ = run.batch_metrics({"runs": runs}, 7)
        self.assertAlmostEqual(e2e["latency_p50_ms"], 1200.0)
        self.assertAlmostEqual(e2e["latency_p99_ms"], 1300.0)
        self.assertAlmostEqual(e2e["work_s"], 3.6)

    def test_held_out_seed_has_its_own_tables(self):
        seen = {run.params("batch_queries", s, 20)["data_seed"] for s in range(1, 101)}
        held = run.params("batch_queries", run.HELD_OUT_SEED, 20)["data_seed"]
        self.assertNotIn(held, seen)
        with open(run.FINGERPRINTS) as f:
            recorded = json.load(f)
        for ds in seen | {held}:
            self.assertEqual(set(recorded[str(ds)]), set(run.BATCH_QUERIES), ds)


class TraceTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_concurrent_children(self):
        spans = [{"id": 1, "parent": 0, "name": "root", "start_ns": 0, "end_ns": 100},
                 {"id": 2, "parent": 1, "name": "sink", "start_ns": 10, "end_ns": 50},
                 {"id": 3, "parent": 1, "name": "sink", "start_ns": 30, "end_ns": 70},
                 {"id": 4, "parent": 3, "name": "jdbc", "start_ns": 40, "end_ns": 60}]
        out = run.trace_summary(spans)
        self.assertEqual(out["root"]["self_s"], 40e-9)
        self.assertEqual(out["sink"]["count"], 2)
        self.assertAlmostEqual(out["sink"]["self_s"], 60e-9)
        self.assertAlmostEqual(out["sink"]["total_s"], 80e-9)


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_names_and_units_match_the_runner(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([m["name"] for m in bench["end_to_end"]], list(run.END_TO_END))
        self.assertEqual([m["name"] for m in bench["per_layer"]], list(run.PER_LAYER))
        for m in bench["end_to_end"] + bench["per_layer"]:
            self.assertEqual(m["unit"], run.unit_of(m["name"]), m["name"])
        self.assertLessEqual({w["name"] for w in bench["workloads"]}, set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
