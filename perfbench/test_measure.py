"""Tests of the benchmark's own arithmetic and failure counting.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import measure
import run


class Percentile(unittest.TestCase):
    def test_nearest_rank_with_ten_beyond(self):
        xs = list(range(1, 101))           # 1..100
        self.assertEqual(measure.percentile(xs, 0.9), 90)   # 10 lie beyond
        self.assertIsNone(measure.percentile(xs, 0.95))    # only 5 beyond

    def test_too_few_samples(self):
        self.assertIsNone(measure.percentile(list(range(99)), 0.9))
        self.assertEqual(measure.percentile(list(range(11)), 0.05), 0)

    def test_tail_picks_highest_supported(self):
        self.assertEqual(measure.tail(list(range(1, 1001))), (0.99, 990))
        self.assertEqual(measure.tail(list(range(1, 201))), (0.95, 190))
        self.assertIsNone(measure.tail(list(range(50))))

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 30
        self.assertEqual(measure.percentile(xs, 0.9), 5)
        self.assertEqual(measure.median(xs), 3)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_gaps(self):
        self.assertEqual(measure.union([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(measure.union([(0, 10), (2, 3)]), 10)
        self.assertEqual(measure.union([(3, 4), (4, 5)]), 2)
        self.assertEqual(measure.union([]), 0)

    def test_union_clips_to_window(self):
        self.assertEqual(measure.union([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(measure.union([(11, 12)], 0, 10), 0)

    def test_driver_gap(self):
        # pass [0, 100]; jobs cover [10, 30] and [20, 50] -> 40 ms in jobs
        self.assertEqual(measure.driver_gap(0, 100, [(10, 30), (20, 50)]), 60)
        self.assertEqual(measure.driver_gap(0, 100, []), 100)
        # a job running past the pass counts only inside it
        self.assertEqual(measure.driver_gap(0, 100, [(90, 130)]), 90)

    def test_gap_plus_job_wall_is_wall(self):
        jobs = [(5, 9), (7, 12), (30, 31)]
        self.assertEqual(measure.driver_gap(0, 40, jobs) +
                         measure.union(jobs, 0, 40), 40)


class SelfTime(unittest.TestCase):
    def test_overlapping_children(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0, "end": 100},
            {"id": 1, "parent": 0, "start": 10, "end": 40},
            {"id": 2, "parent": 0, "start": 30, "end": 60},   # overlaps 1
            {"id": 3, "parent": 1, "start": 15, "end": 20},
        ]
        st = measure.self_times(spans)
        self.assertEqual(st[0], 50)      # 100 - union(10..60)
        self.assertEqual(st[1], 25)      # 30 - 5
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 5)

    def test_jobs_count_as_children(self):
        spans = [{"id": 0, "parent": -1, "start": 0, "end": 10}]
        st = measure.self_times(spans, {0: [(2, 4), (3, 6), (9, 12)]})
        self.assertEqual(st[0], 5)       # 10 - (4 + 1 clipped)


class Failures(unittest.TestCase):
    PINS = {"a": {"rows": 3, "hash": "x"}, "b": {"rows": 2}}

    def test_clean_run(self):
        ops = [{"id": "a", "rows": 3}, {"id": "b", "rows": 2}] * 2
        res = {"a": {"rows": 3, "hash": "x"}, "b": {"rows": 2, "hash": "any"}}
        self.assertEqual(measure.registry_failures(ops, res, self.PINS)[0], 0)

    def test_error_and_wrong_rows_count_once_each(self):
        ops = [{"id": "a", "error": "boom"}, {"id": "a", "rows": 4},
               {"id": "b", "rows": 2}]
        res = {"a": {"rows": 3, "hash": "x"}, "b": {"rows": 2, "hash": "y"}}
        self.assertEqual(measure.registry_failures(ops, res, self.PINS)[0], 2)

    def test_wrong_content_fails_every_op_of_the_id(self):
        ops = [{"id": "a", "rows": 3}] * 3 + [{"id": "b", "rows": 2}]
        res = {"a": {"rows": 3, "hash": "DIFFERENT"}, "b": {"rows": 2, "hash": "y"}}
        failed, why = measure.registry_failures(ops, res, self.PINS)
        self.assertEqual(failed, 3)
        self.assertTrue(any("hash" in w for w in why))

    def test_ingest_duplicates_and_wal(self):
        ops = [{"batch": b, "rows": 5} for b in range(3)]
        led = [{"batch": b, "raw": 5, "admitted": 2} for b in range(3)]
        facts = {"admitted": 6, "duplicate_ids": 0, "wal_batches": [0, 1, 2],
                 "ledger": led}
        warm = {"ledger": led}
        good = {"warmup": warm, "passes": [facts]}
        self.assertEqual(measure.ingest_failures([{"ops": ops}], good, 5,
                                                 {"admitted": 6})[0], 0)
        self.assertEqual(measure.ingest_failures([{"ops": ops}], good, 5,
                                                 {"admitted": 7})[0], 3)
        dup = {"warmup": warm, "passes": [dict(facts, duplicate_ids=1)]}
        self.assertEqual(measure.ingest_failures([{"ops": ops}], dup, 5, None)[0], 3)
        torn = {"warmup": warm, "passes": [dict(facts, wal_batches=[0, 2])]}
        self.assertEqual(measure.ingest_failures([{"ops": ops}], torn, 5, None)[0], 3)
        drift = {"warmup": {"ledger": led[:2] + [dict(led[2], admitted=3)]},
                 "passes": [facts]}
        self.assertEqual(measure.ingest_failures([{"ops": ops}], drift, 5, None)[0], 3)
        err = [{"id": "drain", "error": "boom"}]
        self.assertEqual(measure.ingest_failures([{"ops": err}], good, 5, None)[0], 1)


class Contract(unittest.TestCase):
    def test_benchmark_json_names_what_run_py_prints(self):
        path = os.path.join(run.BENCH, "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside perfbench")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
