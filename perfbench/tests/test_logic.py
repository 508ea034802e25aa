"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The fingerprint test builds the harness (``build.py``) and runs its
self-check in a JVM; the rest is pure Python.
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import metrics  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_exactly_ten_samples_beyond(self):
        xs = list(range(1, 101))
        p, v = metrics.tail_percentile(xs)
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertEqual(p, 90.0)

    def test_order_of_input_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(metrics.tail_percentile(xs), metrics.tail_percentile(sorted(xs)))

    def test_percentile_rises_with_sample_count(self):
        p100, _ = metrics.tail_percentile(range(100))
        p500, _ = metrics.tail_percentile(range(500))
        self.assertEqual(p100, 90.0)
        self.assertEqual(p500, 98.0)

    def test_few_samples_report_p90_not_a_lower_rank(self):
        # 10 beyond would be p44 of 18: below the median
        p, v = metrics.tail_percentile(range(18))
        self.assertEqual(p, 90.0)
        self.assertAlmostEqual(v, 15.3)
        self.assertGreater(v, 8.5)
        self.assertEqual(metrics.tail_percentile(range(50)), (90.0, 44.1))

    def test_tiny_samples(self):
        self.assertEqual(metrics.tail_percentile([3, 1, 2]), (90.0, 2.8))
        self.assertEqual(metrics.tail_percentile([7]), (90.0, 7))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.tail_percentile([])


class SelfTime(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(5, 15), (0, 10)]), 15)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)

    def test_touching_and_empty(self):
        self.assertEqual(metrics.union_length([(0, 5), (5, 9)]), 9)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(3, 3)]), 0)

    def test_unfinished_jobs_are_ignored(self):
        self.assertEqual(metrics.union_length([(0, 10), (4, -1)]), 10)

    def test_self_time_is_wall_minus_union(self):
        # 2 s op, jobs cover 0.5 s + 0.7 s with 0.2 s overlap → 1.0 s jobs
        jobs = [(1000, 1500), (1300, 2000)]
        self.assertAlmostEqual(metrics.self_time(2.0, jobs), 1.0)

    def test_self_time_never_negative(self):
        # millisecond job stamps can round past a sub-millisecond op
        self.assertEqual(metrics.self_time(0.001, [(0, 3)]), 0.0)


class Attribution(unittest.TestCase):
    def test_site_file(self):
        self.assertEqual(metrics.site_file("count at Converter.scala:65"), "Converter.scala")
        self.assertEqual(metrics.site_file("csv at Readers.scala:44"), "Readers.scala")
        self.assertEqual(metrics.site_file("collect at Harness.scala:370"), "Harness.scala")
        self.assertEqual(metrics.site_file(""), "")

    def test_etl_layers_split_by_call_site(self):
        op = {"type": "op", "kind": "convert", "name": "a.csv", "layer": "merge", "ok": True,
              "wall_s": 3.0, "span": {
                  "jobs": [[0, 1000, "csv at Readers.scala:44"],
                           [1000, 1500, "count at Converter.scala:65"],
                           [1200, 2000, "json at Sinks.scala:41"]],
                  "input_bytes": 200, "tasks": 3, "fallback_jobs": 0, "stages": 3,
                  "task_cpu_s": 0, "gc_s": 0, "shuffle_write_bytes": 0,
                  "shuffle_read_bytes": 0, "spill_bytes": 0, "output_bytes": 0,
                  "scan_files": 0, "scan_rows": 0, "write_files": 0, "write_bytes": 0,
                  "write_rows": 0}}
        recs = [op, {"type": "convert", "name": "a.csv", "in_bytes": 100}]
        m = metrics._per_layer(recs, [op])
        self.assertAlmostEqual(m["etl.readers_s"], 1.0)
        self.assertAlmostEqual(m["etl.converter_s"], 0.5)
        self.assertAlmostEqual(m["etl.sinks_s"], 0.8)
        self.assertAlmostEqual(m["etl.driver_s"], 1.0)
        self.assertAlmostEqual(m["etl.input_passes"], 2.0)
        self.assertEqual(m["spark.jobs"], 3)


class FingerprintStability(unittest.TestCase):
    def test_fingerprint_properties(self):
        app = build.build()
        r = subprocess.run(["java", "-cp", build.classpath(app),
                            "graft.perfbench.FingerprintCheck"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(r.returncode, 0, r.stdout)


if __name__ == "__main__":
    unittest.main()
