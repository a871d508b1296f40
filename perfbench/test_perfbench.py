"""Self-tests for the benchmark's own code (no JVM, no Spark).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import glob
import hashlib
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402
import layers  # noqa: E402


def write_base(d, n=2000):
    """A tiny stand-in for a TPC-H-style base directory."""
    ids = pa.array(range(n), pa.int64())
    tables = {name: pa.table({"k": pa.array(range(25), pa.int64())}) for name in gen.DIMENSIONS}
    tables["orders"] = pa.table({"o_orderkey": ids, "o_totalprice": pa.array([1.5] * n)})
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array([i // 4 for i in range(4 * n)], pa.int64()),
        "l_linenumber": pa.array([i % 4 for i in range(4 * n)], pa.int32())})
    for name, key in (("events", "event_id"), ("documents", "doc_id"), ("embeddings", "vec_id")):
        tables[name] = pa.table({key: ids})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(d, name + ".parquet"))


def digests(d):
    out = {}
    for p in sorted(glob.glob(os.path.join(d, "*.parquet"))):
        with open(p, "rb") as f:
            out[os.path.basename(p)] = hashlib.sha256(f.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.base = os.path.join(self.tmp.name, "base")
        os.makedirs(self.base)
        write_base(self.base)

    def tearDown(self):
        self.tmp.cleanup()

    def gen(self, name, seed, pass_no):
        out = os.path.join(self.tmp.name, name)
        gen.generate(self.base, out, seed, pass_no, 0.9)
        return out

    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(digests(self.gen("a", 7, 1)), digests(self.gen("b", 7, 1)))

    def test_seed_and_pass_change_every_fact_table(self):
        a = digests(self.gen("a", 7, 1))
        for other in (self.gen("b", 8, 1), self.gen("c", 7, 2)):
            b = digests(other)
            for t in gen.FACT_KEYS:
                self.assertNotEqual(a[t + ".parquet"], b[t + ".parquet"], t)

    def test_sampling_keeps_orders_and_lineitem_consistent(self):
        out = self.gen("a", 3, 1)
        def keys(table, column):
            return pq.read_table(os.path.join(out, table + ".parquet")).column(column).to_pylist()
        orders = set(keys("orders", "o_orderkey"))
        line = keys("lineitem", "l_orderkey")
        self.assertEqual(set(line), orders)
        self.assertEqual(len(line), 4 * len(orders))
        self.assertTrue(0.85 * 2000 < len(orders) < 0.95 * 2000, len(orders))

    def test_dimensions_are_whole_and_reordered(self):
        out = self.gen("a", 3, 1)
        keys = pq.read_table(os.path.join(out, "part.parquet")).column("k").to_pylist()
        self.assertEqual(sorted(keys), list(range(25)))
        self.assertNotEqual(keys, list(range(25)))


class PercentileTest(unittest.TestCase):
    def test_interpolated_percentile(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(run.percentile(xs, 0.5), 50.5)
        self.assertAlmostEqual(run.percentile(xs, 0.9), 90.1)
        self.assertEqual(run.percentile([4.0], 0.9), 4.0)

    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertIsNone(run.tail_percentile(39))
        self.assertEqual(run.tail_percentile(40), 0.75)
        self.assertEqual(run.tail_percentile(99), 0.75)
        self.assertEqual(run.tail_percentile(100), 0.9)
        self.assertEqual(run.tail_percentile(200), 0.95)
        self.assertEqual(run.tail_percentile(1000), 0.99)

    def test_typical_pass_takes_medians_per_call(self):
        def p(a, b, wall):
            return {"wall_s": wall, "calls": [{"name": "a", "wall_s": a},
                                              {"name": "b", "wall_s": b}]}
        # a burst in call a of the first pass and in call b of the third
        passes = [p(9.0, 2.0, 11.5), p(1.0, 2.0, 3.5), p(1.0, 8.0, 9.1)]
        self.assertAlmostEqual(run.typical_pass(passes), 1.0 + 2.0 + 0.5)


class TraceTest(unittest.TestCase):
    """perfbench/testdata/spans.jsonl: a warm-up pass, one timed pass of
    two calls, a check span, and jobs attributed by job group, by time
    window, through a stale group, and after every span."""

    def setUp(self):
        self.records = layers.load(os.path.join(HERE, "testdata", "spans.jsonl"))
        self.t = layers.Trace(self.records)

    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(layers.covered([(0, 10), (5, 20), (30, 40)], 2, 35), 23)
        self.assertEqual(layers.covered([], 0, 10), 0)

    def test_every_job_is_attributed(self):
        self.assertEqual(self.t.attribution(),
                         {"jobs_seen": 6, "by_group": 3, "by_window": 3, "unattributed": 0})
        self.assertEqual(self.t.owner, {0: 2, 1: 4, 2: 7, 3: 7, 4: 10, 5: 10})

    def test_call_metrics(self):
        m = self.t.call_metrics(self.t.spans[4])
        self.assertAlmostEqual(m["wall_s"], 0.15)
        self.assertAlmostEqual(m["construct_s"], 0.05)
        self.assertEqual(m["jobs"], 1)
        self.assertAlmostEqual(m["driver_s"], 0.08)  # 150 ms minus tasks covering 70 ms
        m = self.t.call_metrics(self.t.spans[7])
        self.assertEqual(m["jobs"], 2)
        self.assertAlmostEqual(m["driver_s"], 0.115)  # a task is clipped at the call's end
        self.assertEqual(m["outliving"], 1)

    def test_per_layer(self):
        jvm = [{"gc_s": 0.25, "heap_after_gc_mb": 90.0, "codecache_mb": 60.0}]
        got, _ = layers.per_layer(self.records, [2 * 1048576], jvm, 40,
                                  {"functions.dot_ns_per_pair": 8.0})
        want = {
            "spark.jobs": 3, "spark.stages": 4, "spark.tasks": 5,
            "spark.task_busy_s": 0.195, "spark.task_cpu_s": 0.05, "spark.task_gc_s": 0.005,
            "spark.shuffle_mb": 2.0, "spark.spill_mb": 0.0, "spark.sched_wait_s": 0.035,
            "spark.driver_s": 0.195, "spark.slot_util": 0.195 / (0.4 * 4),
            "spark.jobs_outliving_call": 1, "sources.write_mb": 1.0, "sources.write_amp": 0.5,
            "plans.asof_native_ratio": 0.2 / 0.15, "harness.pass_self_s": 0.05,
            "operators.asof_join.jobs": 1, "operators.asof_join_native.wall_s": 0.2,
            "calls.construct_s": 0.07, "calls.collect_s": 0.28,
            "jvm.gc_s": 0.25, "jvm.heap_after_gc_mb": 90.0, "jvm.threads_end": 40,
            "functions.dot_ns_per_pair": 8.0,
        }
        for k, v in want.items():
            self.assertAlmostEqual(got[k], v, msg=k)

    def test_self_time(self):
        p = self.t.spans[3]
        self.assertEqual(layers.self_time(p, self.t.children(3, "call")), 50.0)


class ContractTest(unittest.TestCase):
    def test_per_layer_list_matches_the_trace(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        with open(os.path.join(HERE, "workloads.json")) as f:
            workloads = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         list(layers.PER_LAYER))
        self.assertLessEqual({w["name"] for w in bench["workloads"]}, set(workloads))


if __name__ == "__main__":
    unittest.main()
