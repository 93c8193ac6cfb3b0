"""Tests of the benchmark's own arithmetic and input generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import gen
import metrics


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks_and_counts_samples(self):
        xs = [float(i) for i in range(1, 101)]  # 1..100
        self.assertEqual(metrics.percentile(xs, 50), (50.5, 100))
        self.assertAlmostEqual(metrics.percentile(xs, 90)[0], 90.1)
        self.assertEqual(metrics.percentile(xs, 100), (100.0, 100))
        self.assertEqual(metrics.percentile(xs, 0), (1.0, 100))

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(metrics.percentile([3.0, 1.0, 2.0], 50), (2.0, 3))
        self.assertEqual(metrics.percentile([5.0], 90), (5.0, 1))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class SelfTimeTest(unittest.TestCase):
    def test_children_inside_the_span(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 5), (3, 7), (6, 8)]), 3)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time((0, 10), [(-5, 2), (9, 15), (20, 30)]), 7)

    def test_no_children(self):
        self.assertEqual(metrics.self_time((2, 5), []), 3)


class CoreUtilTest(unittest.TestCase):
    def test_share_of_core_time(self):
        # 6 core-seconds of tasks in 2 s of exec on 4 cores
        self.assertAlmostEqual(metrics.core_util(6.0, 2.0, 4), 0.75)

    def test_no_exec_time(self):
        self.assertEqual(metrics.core_util(1.0, 0.0, 4), 0.0)


class FailFracTest(unittest.TestCase):
    passes = [
        {"keys": [{"key": "a", "error": None}, {"key": "b", "error": "boom"},
                  {"key": "c", "error": None}]},
        {"keys": [{"key": "a", "error": None}, {"key": "b", "error": None},
                  {"key": "c", "error": None}]},
    ]

    def test_counts_exceptions(self):
        self.assertEqual(metrics.fail_counts(self.passes, set()), (6, 1))

    def test_counts_wrong_outputs_in_every_pass(self):
        self.assertEqual(metrics.fail_counts(self.passes, {"c"}), (6, 3))

    def test_exception_and_wrong_output_count_once(self):
        attempted, failed = metrics.fail_counts(self.passes, {"b"})
        self.assertEqual((attempted, failed), (6, 2))
        self.assertAlmostEqual(metrics.fail_frac(attempted, failed), 2 / 6)


class GeneratorTest(unittest.TestCase):
    def test_events_same_seed_same_fingerprint(self):
        a = gen.fingerprint(gen.events_table(7, 1))
        self.assertEqual(a, gen.fingerprint(gen.events_table(7, 1)))
        self.assertNotEqual(a, gen.fingerprint(gen.events_table(8, 1)))

    def test_events_files_hold_the_table(self):
        with tempfile.TemporaryDirectory() as d:
            info = gen.write_events(d, 3, 1, 8)
            self.assertEqual(info["rows"], 100_000)
            self.assertEqual(len(os.listdir(os.path.join(d, "events.parquet"))), 8)
            self.assertEqual(info["fingerprint"], gen.fingerprint(gen.events_table(3, 1)))
            self.assertGreater(info["bytes"], 0)

    def test_events_shape(self):
        t = gen.events_table(5, 2)
        self.assertEqual(t.num_rows, 200_000)
        ts = t.column("ts").to_numpy().astype("int64")
        self.assertTrue((ts[1:] >= ts[:-1]).all())
        self.assertLess(max(t.column("user_id").to_pylist()), 3_000)

    def test_documents_are_fixed_and_hold_near_duplicates(self):
        d = gen.documents_table(1)
        self.assertEqual(gen.fingerprint(d), gen.fingerprint(gen.documents_table(1)))
        texts = d.column("text").to_pylist()
        self.assertEqual(len(texts), 5_000)
        self.assertGreaterEqual(sum(t.endswith(" dup") for t in texts), 200)
        self.assertEqual(d.column("n_chars").to_pylist(), [len(t) for t in texts])


if __name__ == "__main__":
    unittest.main()
