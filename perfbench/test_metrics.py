"""Tests of the benchmark's own derivations.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics
from run import rank_error


class TailTest(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(metrics.tail(list(range(10))))
        self.assertEqual(metrics.tail(list(range(11))), (100.0 / 11, 0, 11))

    def test_ten_samples_beyond(self):
        xs = list(range(100, 0, -1))  # 1..100, unsorted
        pct, value, n = metrics.tail(xs)
        self.assertEqual((pct, value, n), (90.0, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_percentile_rises_with_samples(self):
        self.assertLess(metrics.tail(list(range(20)))[0], metrics.tail(list(range(1000)))[0])
        self.assertEqual(metrics.tail(list(range(1000)))[0], 99.0)


class BestPassTest(unittest.TestCase):
    def test_fastest_run_of_each_op(self):
        ops = [{"name": "a", "wall_ms": 5.0}, {"name": "b", "wall_ms": 9.0},
               {"name": "a", "wall_ms": 3.0}, {"name": "b", "wall_ms": 11.0}]
        self.assertEqual(metrics.best_pass(ops), 12.0)


class UnionTest(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_touching_and_empty(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(5, 5), (7, 6)]), 0)

    def test_clipped_to_span(self):
        # jobs that spill past the op (listener clock skew) are clipped
        self.assertEqual(metrics.clipped_union(10, 20, [(0, 12), (18, 30)]), 4)
        self.assertEqual(metrics.clipped_union(10, 20, [(30, 40)]), 0)

    def test_gap_is_wall_minus_union(self):
        op = {"start_ms": 0, "end_ms": 100}
        jobs = [{"start_ms": 10, "end_ms": 40}, {"start_ms": 30, "end_ms": 50},
                {"start_ms": 90, "end_ms": 120}]
        self.assertEqual(metrics.self_time(op, jobs), 100 - 40 - 10)


class SpanTest(unittest.TestCase):
    def record(self):
        return {
            "ops": [{"op": 0, "name": "q", "pass": 1, "traced": True, "start_ms": 1000,
                     "wall_ms": 100.0, "compose_ms": 40.0, "gc_ms": 0}],
            "writes": [],
            "trace": {
                "jobs": [
                    {"job": 1, "span": "0/compose", "op": 0, "start_ms": 1010,
                     "end_ms": 1030, "stages": [1]},
                    {"job": 2, "span": "0/execute", "op": 0, "start_ms": 1050,
                     "end_ms": 1090, "stages": [1, 2]}],
                "stages": [
                    {"stage": 1, "submitted_ms": 1012, "completed_ms": 1028,
                     "tasks": 4, "failures": 0, "task_ms": 40, "cpu_ms": 30,
                     "max_task_ms": 12, "wait_ms": 2, "input_bytes": 0,
                     "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                     "spill_bytes": 0, "output_bytes": 0},
                    {"stage": 2, "submitted_ms": 1055, "completed_ms": 1085,
                     "tasks": 4, "failures": 0, "task_ms": 80, "cpu_ms": 60,
                     "max_task_ms": 25, "wait_ms": 4, "input_bytes": 0,
                     "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                     "spill_bytes": 0, "output_bytes": 0}],
                "plans": [], "streams": []}}

    def test_tree_and_self_time(self):
        by_id = {s["id"]: s for s in metrics.spans(self.record())}
        self.assertEqual(by_id["op/0"]["self_ms"], 0)
        self.assertEqual(by_id["op/0/compose"]["self_ms"], 40 - 20)
        self.assertEqual(by_id["op/0/execute"]["self_ms"], 60 - 40)
        self.assertEqual(by_id["job/2"]["parent"], "op/0/execute")
        self.assertEqual(by_id["stage/2"]["parent"], "job/2")
        self.assertEqual(by_id["stage/1"]["parent"], "job/1")

    def test_layer_sums(self):
        m = metrics.per_layer(self.record(), cores=4)
        self.assertEqual(m["exec.jobs"], 2)
        self.assertEqual(m["exec.stages"], 2)
        self.assertEqual(m["exec.stages_skipped"], 1)
        self.assertEqual(m["queries.compose_jobs"], 1)
        self.assertEqual(m["queries.compose_task_ms"], 40)
        self.assertEqual(m["exec.job_wall_ms"], 60)
        self.assertEqual(m["driver.gap_ms"], 40)
        self.assertAlmostEqual(m["exec.core_util"], 120 / (60 * 4))


class RankTest(unittest.TestCase):
    def test_inside_rank_range(self):
        self.assertEqual(rank_error(0.99, 1000, 980, 995), 0.0)

    def test_max_value_threshold(self):
        # the maximum of 1000 distinct values has rank 1000, ten ranks
        # (1% of n) above the target: still inside the GK bound
        self.assertAlmostEqual(rank_error(0.99, 1000, 999, 1000), 0.01)
        self.assertAlmostEqual(rank_error(0.99, 1000, 900, 950), 0.04)


if __name__ == "__main__":
    unittest.main()
