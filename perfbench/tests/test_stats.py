"""Unit tests for the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail(xs), (90, 90, 10))

    def test_always_leaves_ten_beyond(self):
        for n in range(11, 400):
            value, p, beyond = stats.tail([float(i) for i in range(n)])
            self.assertGreaterEqual(beyond, 10, n)
            # one percentile higher would leave fewer than ten beyond
            rank = -(-(p + 1) * n // 100)
            self.assertLess(n - rank, 10, n)
            self.assertEqual(value, float(n - beyond - 1))

    def test_twenty_samples_give_the_median(self):
        value, p, beyond = stats.tail(list(range(20)))
        self.assertEqual((p, beyond), (50, 10))
        self.assertEqual(value, 9)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_too_few_samples_fall_back_to_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100, 0))
        self.assertEqual(stats.tail([]), (0.0, 0, 0))


class UnionTest(unittest.TestCase):
    def test_overlapping_and_nested_intervals_count_once(self):
        self.assertAlmostEqual(stats.union_length([(0, 2), (1, 3), (1.5, 1.8), (5, 6)]), 4.0)

    def test_clipping(self):
        self.assertAlmostEqual(stats.union_length([(0, 10)], 2, 5), 3.0)
        self.assertAlmostEqual(stats.union_length([(0, 1)], 2, 5), 0.0)


class DriverGapTest(unittest.TestCase):
    def test_gap_is_pass_time_with_no_job_running(self):
        # pass [0, 10]; jobs cover [1, 4] (two overlapping) and [6, 7]
        jobs = [(1, 3), (2, 4), (6, 7)]
        self.assertAlmostEqual(stats.driver_gap((0, 10), jobs), 6.0)

    def test_jobs_outside_the_pass_do_not_count(self):
        self.assertAlmostEqual(stats.driver_gap((10, 20), [(5, 12), (19, 25), (30, 40)]), 7.0)

    def test_no_jobs_means_all_gap(self):
        self.assertAlmostEqual(stats.driver_gap((0, 2.5), []), 2.5)


class SelfTimeTest(unittest.TestCase):
    def spans(self):
        def sp(i, parent, layer, a, b):
            return {"id": i, "parent": parent, "layer": layer, "start": a, "end": b}
        return [
            sp("p", None, "pass", 0, 10),
            sp("o1", "p", "op", 0, 6),
            sp("o2", "p", "op", 7, 10),
            sp("j1", "o1", "job", 1, 4),
            sp("j2", "o1", "job", 3, 5),
            sp("s1", "j1", "stage", 1, 2),
            sp("s2", "j1", "stage", 1.5, 3),
            sp("j3", "o2", "job", 8, 9),
        ]

    def test_self_time_subtracts_the_union_of_children(self):
        own, layers = stats.self_times(self.spans())
        self.assertAlmostEqual(own["p"], 1.0)    # 10 - (6 + 3)
        self.assertAlmostEqual(own["o1"], 2.0)   # 6 - |[1, 5]|
        self.assertAlmostEqual(own["o2"], 2.0)   # 3 - 1
        self.assertAlmostEqual(own["j1"], 1.0)   # 3 - |[1, 3]|
        self.assertAlmostEqual(own["j2"], 2.0)
        self.assertAlmostEqual(own["s1"], 1.0)
        self.assertAlmostEqual(layers["op"], 4.0)
        self.assertAlmostEqual(layers["job"], 4.0)
        self.assertAlmostEqual(layers["stage"], 2.5)

    def test_without_overlap_layer_self_times_add_up_to_the_root(self):
        spans = [s for s in self.spans() if s["id"] not in ("j2", "s2")]
        _, layers = stats.self_times(spans)
        self.assertAlmostEqual(sum(layers.values()), 10.0)


def raw_run():
    """A traced run record: pass 0 untraced, pass 1 traced with two ops."""
    stage = {"id": 0, "attempt": 0, "name": "s", "submit_ms": 1100, "complete_ms": 1300,
             "tasks": 4, "run_ms": 600, "cpu_ns": 4e8, "gc_ms": 10, "sched_delay_ms": 8,
             "shuffle_write_bytes": 2e6, "shuffle_write_records": 100, "fetch_wait_ms": 1,
             "spill_bytes": 0, "peak_exec_mem_bytes": 3e6, "input_bytes": 5e6,
             "input_records": 1000, "output_bytes": 1e6, "task_ms_max": 200,
             "task_ms_median": 100}

    def op(p, name, a, b):
        return {"pass": p, "name": name, "start_ms": a, "end_ms": b, "ok": True, "rows": 10,
                "phases": {}, "persisted_rdds": 1, "persisted_mb": 0.5}
    return {
        "workload": "join_skew", "first_op_ms": 0, "launch_ms": -5000,
        "env": {"cores": 4}, "datagen": {"gen_s": 1.5, "rows": 100},
        "passes": [{"index": 0, "traced": False, "start_ms": 0, "end_ms": 900, "jvm_gc_ms": 3},
                   {"index": 1, "traced": True, "start_ms": 1000, "end_ms": 2000,
                    "jvm_gc_ms": 5}],
        "ops": [op(0, "merge@0.5", 0, 400), op(0, "broadcast@0.5", 400, 900),
                op(1, "merge@0.5", 1000, 1500), op(1, "broadcast@0.5", 1500, 2000)],
        "jobs": [{"id": 0, "start_ms": 1100, "end_ms": 1400, "stages": [0]},
                 {"id": 1, "start_ms": 1600, "end_ms": 1700, "stages": []}],
        "stages": [stage], "batches": [], "retained_heap_mb": 70.0,
    }


class RecordTest(unittest.TestCase):
    def test_spans_nest_jobs_under_their_operation(self):
        spans = stats.build_spans(raw_run())
        by_id = {s["id"]: s for s in spans}
        self.assertEqual(by_id["j0"]["parent"], "p1.o0")
        self.assertEqual(by_id["j1"]["parent"], "p1.o1")
        self.assertEqual(by_id["s0.0"]["parent"], "j0")
        self.assertEqual(by_id["s0.0"]["op"], "p1.o0")

    def test_per_layer_metrics(self):
        raw = raw_run()
        m = stats.per_layer(raw, stats.build_spans(raw))
        self.assertEqual(set(m), set(stats.PER_LAYER_UNITS))
        self.assertEqual(m["queries.jobs"][0], 2)
        self.assertAlmostEqual(m["queries.driver_gap_s"][0], 0.6)
        self.assertAlmostEqual(m["queries.core_busy_frac"][0], 0.6 / 4)
        self.assertAlmostEqual(m["joins.task_skew"][0], 2.0)
        self.assertAlmostEqual(m["trace.overhead_frac"][0], 1.0 / 0.9 - 1)

    def test_end_to_end_metrics(self):
        m, facts = stats.end_to_end(raw_run())
        self.assertAlmostEqual(m["setup_s"][0], 5.0)
        self.assertAlmostEqual(m["pass_s"][0], 0.95)
        self.assertAlmostEqual(m["op_p50_s"][0], 0.5)
        self.assertEqual(facts["failed_frac"], 0.0)


if __name__ == "__main__":
    unittest.main()
