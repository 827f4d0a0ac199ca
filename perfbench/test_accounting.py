"""Tests for the benchmark's own accounting and output checks.

    python3 -B -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import accounting  # noqa: E402
import checks  # noqa: E402


def op(t0, t1, ok=True, **kw):
    return dict(t0=t0, t1=t1, ok=ok, phases=[], **kw)


class PercentileTest(unittest.TestCase):
    def test_reported_with_sample_count(self):
        p = accounting.percentile([0.3, 0.1, 0.2], 0.5)
        self.assertEqual(p["n"], 3)
        self.assertAlmostEqual(p["value"], 0.2)

    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertFalse(accounting.percentile([1.0] * 99, 0.9)["supported"])
        self.assertTrue(accounting.percentile([1.0] * 100, 0.9)["supported"])

    def test_p50_needs_ten_samples_beyond_it(self):
        self.assertFalse(accounting.percentile([1.0] * 19, 0.5)["supported"])
        self.assertTrue(accounting.percentile([1.0] * 20, 0.5)["supported"])

    def test_highest_supported_percentile(self):
        self.assertIsNone(accounting.highest_supported([1.0] * 19))
        self.assertEqual(accounting.highest_supported([1.0] * 20)["q"], 50)
        self.assertEqual(accounting.highest_supported([1.0] * 38)["q"], 73)
        top = accounting.highest_supported(list(range(100)))
        self.assertEqual((top["q"], top["n"], top["supported"]), (90, 100, True))

    def test_empty_is_unsupported(self):
        self.assertEqual(accounting.percentile([], 0.5),
                         {"value": None, "n": 0, "supported": False})


class GeomeanTest(unittest.TestCase):
    def test_each_op_weighs_the_same(self):
        # three samples of a fast op and one of a slow one weigh alike
        g = accounting.geomean_of_medians({"a": [0.1, 0.1, 0.1], "b": [0.4]})
        self.assertAlmostEqual(g, 0.2)

    def test_failed_median_is_missed(self):
        g = accounting.geomean_of_medians({"a": [0.1], "b": [math.inf, math.inf, 0.2]})
        self.assertEqual(g, math.inf)
        self.assertIsNone(accounting.geomean_of_medians({}))


class FailedOpTest(unittest.TestCase):
    def test_thrown_op_is_missed(self):
        lat = accounting.op_latencies([op(0, 500), op(0, 100, ok=False)])
        self.assertEqual(lat, [0.5, math.inf])

    def test_thrown_op_misses_every_bound(self):
        lat = accounting.op_latencies([op(0, 100), op(0, 100, ok=False)])
        misses = accounting.bound_misses(lat, [0.05, 1.0, 1e9])
        self.assertEqual(misses, {0.05: 1.0, 1.0: 0.5, 1e9: 0.5})

    def test_failures_pull_percentiles_up(self):
        ok = accounting.op_latencies([op(0, 100)] * 3)
        failed = accounting.op_latencies([op(0, 100)] * 3 + [op(0, 1, ok=False)] * 3)
        self.assertAlmostEqual(accounting.percentile(ok, 0.5)["value"], 0.1)
        self.assertEqual(accounting.percentile(failed, 0.9)["value"], math.inf)


class OpenLoopTest(unittest.TestCase):
    def test_latency_is_timed_from_due_and_lateness_recorded(self):
        # due at 1000 ms, the generator only got to it at 1300, the
        # publish finished at 1500, the consumer first saw it at 1900
        a = dict(batch=1, due=1000.0, created=1300.0, t1=1500.0, ok=True)
        (t,) = accounting.open_loop([a], {1: 1900.0})
        self.assertAlmostEqual(t["late_s"], 0.3)
        self.assertAlmostEqual(t["publish_s"], 0.5)
        self.assertAlmostEqual(t["deliver_s"], 0.6)

    def test_failed_or_undelivered_batch_is_missed(self):
        failed = dict(batch=1, due=0.0, created=0.0, t1=10.0, ok=False)
        lost = dict(batch=2, due=0.0, created=0.0, t1=10.0, ok=True)
        t1, t2 = accounting.open_loop([failed, lost], {1: 20.0})
        self.assertEqual((t1["publish_s"], t1["deliver_s"]), (math.inf, math.inf))
        self.assertEqual(t2["deliver_s"], math.inf)
        self.assertAlmostEqual(t2["publish_s"], 0.01)


class LayerTest(unittest.TestCase):
    def test_job_time_and_floor_split_the_window(self):
        trace = {
            "jobs": [{"job": 0, "t0": 1000.0, "t1": 1400.0, "stages": [0]},
                     {"job": 1, "t0": 1200.0, "t1": 1600.0, "stages": [1]},
                     {"job": 2, "t0": 5000.0, "t1": 5100.0, "stages": [2]}],
            "stages": [{"stage": s, "tasks": 2, "metrics": {"run_ms": 100}} for s in (0, 1, 2)],
            "plans": [{"t": 1500.0, "phases": {"planning": 7}}, {"t": 9000.0, "phases": {}}],
            "triggers": [],
        }
        ops = [op(1000.0, 2000.0), op(2000.0, 3000.0)]
        out = accounting.layers(trace, ops, (1000.0, 3000.0), 4, {"entry.materialize"})
        self.assertEqual(out["sched.jobs"], 1.0)
        self.assertAlmostEqual(out["sched.job_active_s"], 0.3)
        self.assertAlmostEqual(out["sched.no_job_s"], 0.7)
        self.assertEqual(out["plan.executions"], 0.5)
        self.assertEqual(out["plan.planning_ms"], 3.5)
        self.assertAlmostEqual(out["exec.core_util"], 0.2 / (2.0 * 4))

    def test_union_length(self):
        self.assertEqual(accounting.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(accounting.union_length([]), 0)


class PubSubCheckTest(unittest.TestCase):
    keys = [["a", "b"], ["c", "d"]]
    appends = [dict(batch=0, ok=True), dict(batch=1, ok=True)]

    def delivery(self, rows):
        p, o, seq, key = zip(*rows)
        return dict(partition=list(p), offset=list(o), seq=list(seq), key=list(key))

    def test_exactly_once_and_contiguous_passes(self):
        d = self.delivery([(0, 0, 0, "a"), (0, 1, 1, "b"), (1, 0, 1000000, "c"),
                           (1, 1, 1000001, "d")])
        self.assertEqual(checks.pubsub(self.appends, [d], self.keys), ([], set()))

    def test_duplicate_and_missing_rows_fail_their_batch(self):
        d = self.delivery([(0, 0, 0, "a"), (0, 1, 1, "b"), (0, 2, 1, "b"),
                           (1, 0, 1000000, "c")])
        failures, bad = checks.pubsub(self.appends, [d], self.keys)
        self.assertEqual(bad, {0, 1})
        self.assertTrue(any("delivered twice" in f["reason"] for f in failures))
        self.assertTrue(any("never delivered" in f["reason"] for f in failures))

    def test_offset_gap_and_wrong_key_fail(self):
        d = self.delivery([(0, 0, 0, "a"), (0, 2, 1, "b"), (1, 0, 1000000, "x"),
                           (1, 1, 1000001, "d")])
        failures, bad = checks.pubsub(self.appends, [d], self.keys)
        reasons = " ".join(f["reason"] for f in failures)
        self.assertIn("not contiguous", reasons)
        self.assertIn("delivered with key x", reasons)
        self.assertEqual(bad, {0, 1})

    def test_thrown_append_is_named(self):
        appends = [dict(batch=0, ok=True), dict(batch=1, ok=False, error="boom")]
        d = self.delivery([(0, 0, 0, "a"), (0, 1, 1, "b")])
        failures, bad = checks.pubsub(appends, [d], self.keys)
        self.assertEqual(bad, {1})
        self.assertEqual(failures, [{"op": "batch 1", "reason": "append threw: boom"}])


class FingerprintTest(unittest.TestCase):
    def test_order_and_file_split_do_not_matter(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        rows = {"b": [1, 2, 3], "a": ["x", "y", "z"]}
        with tempfile.TemporaryDirectory() as d:
            one, two = os.path.join(d, "one"), os.path.join(d, "two")
            os.makedirs(one)
            os.makedirs(two)
            pq.write_table(pa.table(rows), os.path.join(one, "part-0.parquet"))
            pq.write_table(pa.table({"a": ["z"], "b": [3]}), os.path.join(two, "part-0.parquet"))
            pq.write_table(pa.table({"a": ["y", "x"], "b": [2, 1]}),
                           os.path.join(two, "part-1.parquet"))
            self.assertEqual(checks.fingerprint(one), checks.fingerprint(two))
            pq.write_table(pa.table({"a": ["y", "x"], "b": [2, 9]}),
                           os.path.join(two, "part-1.parquet"))
            self.assertNotEqual(checks.fingerprint(one), checks.fingerprint(two))


if __name__ == "__main__":
    unittest.main()
