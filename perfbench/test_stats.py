"""Tests for the benchmark's own statistics, input generator and build
cache key.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import numpy as np
import pyarrow as pa

import gen
import run
import stats


def prog(batch_id, start, end, ts_ms, trigger_ms, rows=1):
    return {"batch_id": batch_id, "start_offset": start, "end_offset": end,
            "timestamp_ms": ts_ms, "input_rows": rows,
            "duration_ms": {"triggerExecution": trigger_ms}}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(999), 95)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(19))

    def test_summary_reports_count(self):
        s = stats.summarize([float(x) for x in range(100)])
        self.assertEqual((s["n"], s["tail_p"], s["p50"], s["tail"]), (100, 90, 49.5, 89.0))
        self.assertIsNone(stats.summarize([1.0] * 5)["tail_p"])


class LatencyTest(unittest.TestCase):
    def test_due_time_to_end_of_consuming_batch(self):
        # batch 0 consumes offsets 0..1, batch 1 offset 2, batch 2 is no-data
        p = [prog(0, None, "1", 1000, 100), prog(1, "1", "2", 1200, 50),
             prog(2, "2", "2", 1300, 10, rows=0)]
        self.assertEqual(stats.chunk_latencies([900, 950, 1100], [0, 1, 2], {"q": p}),
                         [200, 150, 150])

    def test_slowest_query_counts_and_missing_is_none(self):
        a = [prog(0, None, "0", 1000, 100)]
        b = [prog(0, None, "0", 1000, 300)]
        self.assertEqual(stats.chunk_latencies([900], [0], {"a": a, "b": b}), [400])
        self.assertEqual(stats.chunk_latencies([900, 950], [0, 1], {"a": a}), [200, None])


class ValidityTest(unittest.TestCase):
    def test_backlog_from_progress(self):
        p = [prog(0, None, "1", 1000, 100), prog(1, "1", "3", 1200, 100)]
        self.assertEqual(stats.backlog_chunks([1000, 1150, 1350], [1, 2, 3], {"q": p}),
                         [2, 1, 0])

    def test_backlog_growth(self):
        oscillating = [0, 5, 10, 2, 7, 12, 1, 6, 11, 3, 8, 12] * 3
        self.assertFalse(stats.backlog_grew(oscillating))
        growing = list(range(0, 60, 2))
        self.assertTrue(stats.backlog_grew(growing))
        self.assertFalse(stats.backlog_grew([3, 4]))

    def test_late_generator(self):
        self.assertEqual(stats.generator_late_ms([0, 50, 100], [1, 52, 180]), 80)
        self.assertEqual(stats.generator_late_ms([], []), 0)


class SelfTimeTest(unittest.TestCase):
    def test_children_overlap_is_counted_once(self):
        spans = [{"id": 1, "parent": 0, "start_ns": 0, "end_ns": 100},
                 {"id": 2, "parent": 1, "start_ns": 10, "end_ns": 40},
                 {"id": 3, "parent": 1, "start_ns": 30, "end_ns": 50},
                 {"id": 4, "parent": 1, "start_ns": 90, "end_ns": 120}]
        self.assertEqual(stats.self_times(spans), {1: 50, 2: 30, 3: 20, 4: 30})


class ReplayTest(unittest.TestCase):
    N = 3000

    def events(self):
        # the generated table's density: 100k events over 30 days
        rng = np.random.default_rng(0)
        span = gen.EVENTS_SPAN_US * self.N // gen.SF_ROWS["events"]
        ts = gen.EVENTS_START_US + np.sort(rng.integers(0, span, self.N))
        return pa.table({
            "event_id": np.arange(self.N, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 50, self.N),
            "event_type": np.array(gen.EVENT_TYPES)[rng.integers(0, 5, self.N)],
            "value": rng.exponential(50.0, self.N),
            "props": ['{"k": 1}'] * self.N})

    def test_same_seed_same_replay(self):
        a = gen.replay(self.events(), 7, 5000, 100)
        b = gen.replay(self.events(), 7, 5000, 100)
        c = gen.replay(self.events(), 8, 5000, 100)
        for k in a:
            np.testing.assert_array_equal(a[k], b[k])
        self.assertFalse(np.array_equal(a["ts"], c["ts"]))

    def test_shares_and_watermark(self):
        n = 20000
        r = gen.replay(self.events(), 3, n, 500)
        m = len(r["ts"])
        self.assertGreater(m, n * 0.99)
        dup, late = r["dup"].sum() / m, r["late"].sum() / m
        self.assertAlmostEqual(dup, gen.DUP_SHARE, delta=0.004)
        self.assertAlmostEqual(late, gen.LATE_SHARE, delta=0.002)
        self.assertFalse(r["late"][:500].any())
        # late rows sit before every on-time row, beyond any watermark
        self.assertLess(r["ts"][r["late"]].max(), r["ts"][~r["late"]].min())
        # duplicates repeat an earlier row exactly
        seen = set()
        for eid, d in zip(r["event_id"], r["dup"]):
            self.assertEqual(bool(d), eid in seen)
            seen.add(eid)
        # out of order, but never beyond the watermark
        on_time = r["ts"][~r["late"]]
        self.assertGreater(int((np.diff(on_time) < 0).sum()), 0.1 * m)
        self.assertLess(gen.max_lateness_us(r["ts"], r["late"]), gen.WATERMARK_US)


class BuildKeyTest(unittest.TestCase):
    """The cached class path is reused only while no source changed."""

    def test_source_change_changes_key(self):
        with tempfile.TemporaryDirectory() as root:
            def write(rel, text):
                path = os.path.join(root, rel)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "w") as f:
                    f.write(text)
            write("build.sbt", "lazy val root = project")
            write("project/build.properties", "sbt.version=1.10.0")
            write("src/main/scala/graft/A.scala", "object A")
            key = run.source_key(root)
            # build outputs are not sources
            write("target/scala-2.13/classes/A.class", "x")
            write("project/target/x", "x")
            write("project/project/target/x", "x")
            self.assertEqual(run.source_key(root), key)
            write("src/main/scala/graft/A.scala", "object A { val x = 1 }")
            changed = run.source_key(root)
            self.assertNotEqual(changed, key)
            write("src/main/scala/graft/B.scala", "object B")
            self.assertNotEqual(run.source_key(root), changed)


if __name__ == "__main__":
    unittest.main()
