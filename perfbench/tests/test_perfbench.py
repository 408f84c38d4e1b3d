"""Unit tests of the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import ast
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def digests(seed):
    with tempfile.TemporaryDirectory() as d:
        rows = gen.write(d, seed)
        out = {}
        for t in rows:
            with open(os.path.join(d, f"{t}.parquet"), "rb") as fh:
                out[t] = hashlib.sha256(fh.read()).hexdigest()
        return rows, out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_files(self):
        self.assertEqual(digests(11), digests(11))

    def test_other_seed_other_rows_same_sizes(self):
        rows_a, a = digests(11)
        rows_b, b = digests(12)
        self.assertEqual(rows_a, rows_b)
        self.assertEqual(rows_a, gen.SIZES)
        # Fixed dimension tables stay; every seeded table changes.
        self.assertEqual({t for t in a if a[t] == b[t]}, {"region", "nation"})

    def test_domains(self):
        t = gen.tables(3)
        docs = t["documents"].to_pandas()
        self.assertTrue((docs["n_chars"] == docs["text"].str.len()).all())
        self.assertEqual(docs["doc_id"].nunique(), len(docs))
        self.assertGreaterEqual(docs["text"].str.endswith(" dup").sum(),
                                int(len(docs) * gen.NEAR_DUP_SHARE) // 2)
        li = t["lineitem"].to_pandas()
        self.assertTrue(li["l_orderkey"].between(0, gen.SIZES["orders"] - 1).all())
        self.assertEqual(set(li["l_returnflag"]), {"A", "N", "R"})


class TailRuleTest(unittest.TestCase):
    def test_needs_eleven_jobs(self):
        with self.assertRaises(ValueError):
            metrics.tail_percentile([1.0] * 10)

    def test_exactly_ten_beyond(self):
        for n in (11, 12, 14, 20, 37, 100, 1000):
            xs = list(range(n, 0, -1))  # unsorted on purpose
            p, v = metrics.tail_percentile(xs)
            beyond = sum(x > v for x in xs)
            self.assertGreaterEqual(beyond, 10, n)
            # The next whole percentile would leave fewer than ten beyond.
            if p < 99:
                rank = max(1, -(-(p + 1) * n // 100))
                self.assertLess(n - rank, 10, n)

    def test_known_values(self):
        self.assertEqual(metrics.tail_percentile(range(1, 101)), (90, 90))
        self.assertEqual(metrics.tail_percentile(range(1, 12)), (9, 1))
        self.assertEqual(metrics.tail_percentile(range(1, 13)), (16, 2))


TRACE_KEYS = [
    "spark_jobs", "build_spark_jobs", "tasks", "task_failures", "sched_wait_s",
    "driver_self_s", "task_busy_s", "task_cpu_s", "gc_s", "stage_skew",
    "shuffle_write_b", "shuffle_read_b", "spill_b", "input_b", "input_rows",
    "output_b", "write_task_s", "plan_s", "optimize_s", "exchanges",
    "nested_loop_joins", "batches", "batch_s", "commit_s", "state_partitions",
    "state_rows", "state_b", "stream_rows"]


def fake_result(n=12):
    """A harness result of the shape Harness.scala writes."""
    jobs = []
    for i in range(n):
        j = {"name": "a" if i % 2 else "b", "pass": i // 6, "ok": True, "err": "",
             "latency_s": 0.1 + i / 100, "build_s": 0.05, "exec_s": 0.05,
             "cpu_s": 0.2, "rows": 3, "memo_builds": i % 3 == 0}
        if i % 2:
            j["trace"] = {k: 1 for k in TRACE_KEYS}
        jobs.append(j)
    return {"setup_s": 2.0, "storage_mb": 1.0, "rss_peak_mb": 500.0,
            "memo_users": ["b"], "jobs": jobs}


class SpecTest(unittest.TestCase):
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))

    def test_end_to_end_names(self):
        values, notes = metrics.end_to_end(fake_result(), {"a": 10, "b": 20})
        self.assertEqual(set(values), {m["name"] for m in self.spec["end_to_end"]})
        self.assertEqual(notes, {"tail_jobs": 12, "tail_percentile": 16})
        self.assertEqual(values["setup_s"], 2.0)

    def test_per_layer_names(self):
        values = metrics.per_layer(fake_result(), {"a"}, {"b"}, 100, 0.5)
        self.assertEqual(set(values), {m["name"] for m in self.spec["per_layer"]})

    def test_workloads(self):
        self.assertEqual({w["name"] for w in self.spec["workloads"]}, set(WORKLOADS))

    def test_setup_metric(self):
        setup = next(m for m in self.spec["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in self.spec["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
