"""Unit tests of the benchmark's metric aggregation.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pbench import metrics  # noqa: E402


def span(i, layer, start, end, parent=None):
    return {"id": i, "layer": layer, "name": layer, "start": start,
            "end": end, "parent": parent, "query": None}


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        # p95: rank 95, only 5 beyond; p90: rank 90, exactly 10 beyond
        self.assertEqual(metrics.tail_percentile(xs), (90, 90, 100))

    def test_sample_count_bounds_the_percentile(self):
        xs = list(range(1, 31))  # 30 samples: p75 leaves 7 beyond
        self.assertEqual(metrics.tail_percentile(xs), (50, 15, 30))

    def test_too_few_samples(self):
        self.assertEqual(metrics.tail_percentile([1.0, 2.0, 3.0]),
                         (None, None, 3))

    def test_unsorted_input(self):
        xs = [float(x) for x in range(1000, 0, -1)]
        self.assertEqual(metrics.tail_percentile(xs), (99, 990.0, 1000))


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(
            metrics.union_length([(0, 2), (1, 3), (5, 6), (7, 7)]), 4)

    def test_union_nested(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (4, 5)]), 10)

    def test_driver_gap_counts_time_without_jobs(self):
        # window 0..10; jobs cover 1..3 and 2..4 (overlap) and 8..12
        # (clipped to 8..10): busy 3 + 2, gap 5
        self.assertEqual(
            metrics.driver_gap((0, 10), [(1, 3), (2, 4), (8, 12)]), 5)

    def test_driver_gap_without_jobs_is_the_window(self):
        self.assertEqual(metrics.driver_gap((3, 7), []), 4)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_counted_once(self):
        spans = [span(0, "query", 0, 10),
                 span(1, "job", 1, 4, parent=0),
                 span(2, "job", 3, 6, parent=0),
                 span(3, "stage", 2, 3, parent=1)]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 5)   # 10 - union(1..6)
        self.assertEqual(st[1], 2)   # 3 - 1
        self.assertEqual(st[2], 3)
        self.assertEqual(st[3], 1)

    def test_child_clipped_to_parent(self):
        spans = [span(0, "action", 0, 4), span(1, "job", 2, 9, parent=0)]
        self.assertEqual(metrics.self_times(spans)[0], 2)

    def test_layer_self_times_sum_to_root_duration(self):
        spans = [span(0, "query", 0, 10), span(1, "build", 0, 6, parent=0),
                 span(2, "consume", 6, 10, parent=0),
                 span(3, "job", 1, 5, parent=1), span(4, "stage", 2, 4, parent=3)]
        lt = metrics.layer_self_times(spans)
        self.assertEqual(lt, {"query": 0, "build": 2, "consume": 4,
                              "job": 2, "stage": 2})
        self.assertEqual(sum(lt.values()), 10)

    def test_assign_parents_picks_innermost_container(self):
        spans = [span(0, "query", 0, 100), span(1, "build", 0, 60),
                 span(2, "action", 10, 50), span(3, "job", 20, 30),
                 span(4, "stage", 21, 29), span(5, "job", 70, 80),
                 span(6, "action", 12, 40)]
        spans[0]["query"] = "p0:q"
        metrics.assign_parents(spans)
        # the inner action nests in the outer one; job 3 in the inner one
        self.assertEqual([s["parent"] for s in spans],
                         [None, 0, 1, 6, 3, 0, 2])
        self.assertEqual({s["query"] for s in spans}, {"p0:q"})


class FromRun(unittest.TestCase):
    def run_doc(self):
        """Two passes (one traced) of one query with IVM marks."""
        def ex(p, t0):
            return {"q": "q", "pass": p, "t0": t0, "built": t0 + 60,
                    "t1": t0 + 100, "ok": True, "digest": "1", "error": "",
                    "marks": [{"m": "p1", "t": t0 + 20},
                              {"m": "delta", "t": t0 + 40}]}
        stage = {"id": 0, "attempt": 0, "start": 1024, "end": 1030,
                 "shuffle_write_bytes": 2e6, "tasks": 4, "run_ms": 40,
                 "cpu_ns": 3e7, "input_bytes": 1e6, "input_rows": 10,
                 "output_bytes": 0, "output_rows": 0,
                 "shuffle_read_bytes": 0, "shuffle_read_records": 0,
                 "fetch_wait_ms": 0, "shuffle_write_records": 5,
                 "shuffle_write_ns": 1e6, "spill_memory_bytes": 0,
                 "spill_disk_bytes": 0, "gc_ms": 1,
                 "peak_execution_bytes": 0}
        return {
            "jvm_start_ms": 0, "setup_end_ms": 900, "cpus": 4, "tmp_mb": 1.5,
            "peak_rss_mb": 100.0,
            "passes": [{"t0": 1000, "t1": 1100, "traced": True, "gc_ms": 3},
                       {"t0": 1200, "t1": 1280, "traced": False, "gc_ms": 0}],
            "execs": [ex(-1, 500), ex(0, 1000), ex(1, 1200)],
            "verified": [],
            "events": {
                "stages": [stage, {"id": 1, "attempt": 0, "end": 1250,
                                   "shuffle_write_bytes": 3e6}],
                "jobs": [{"id": 0, "start": 1022, "stages": [0, 7],
                          "checkpoint": True},
                         {"id": 0, "end": 1035}],
                "actions": [], "batches": []},
        }

    def test_end_to_end(self):
        e2e = metrics.end_to_end(self.run_doc(), failed=1, attempted=4)
        self.assertAlmostEqual(e2e["setup_s"], 0.9)
        self.assertAlmostEqual(e2e["makespan_s"], 0.09)  # median of .1, .08
        self.assertAlmostEqual(e2e["shuffle_mb"], 2.5)
        self.assertAlmostEqual(e2e["ok_frac"], 0.75)

    def test_per_layer_uses_traced_passes(self):
        v, spans, n = metrics.per_layer(self.run_doc())
        self_ms = metrics.layer_self_times(spans)
        self.assertEqual(n, 1)
        self.assertEqual(v["scheduler.jobs"], 1)
        self.assertEqual(v["scheduler.stages_skipped"], 1)
        self.assertEqual(v["checkpoint.jobs"], 1)
        self.assertAlmostEqual(v["scheduler.driver_gap_s"], 0.087)
        self.assertAlmostEqual(v["scheduler.slot_busy_frac"], 40 / 400)
        self.assertAlmostEqual(v["ivm.refresh_s"], 0.08)
        self.assertAlmostEqual(v["ivm.delta_s"], 0.02)
        self.assertAlmostEqual(v["trace.overhead_frac"], 100 / 80 - 1)
        # a proper span tree: self times add up to the query's wall
        self.assertAlmostEqual(sum(self_ms.values()), 100)
        self.assertAlmostEqual(self_ms["checkpoint"], 13 - 6)
        self.assertAlmostEqual(self_ms["ivm"], 60 - 13)
        q = next(s for s in spans if s["layer"] == "query")
        self.assertTrue(all(s["parent"] is not None for s in spans
                            if s is not q))


if __name__ == "__main__":
    unittest.main()
