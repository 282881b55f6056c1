"""The percentile rule and the row hash."""
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_minimum_sample_counts(self):
        self.assertEqual(stats.min_samples(0.5), 20)
        self.assertEqual(stats.min_samples(0.9), 100)
        self.assertEqual(stats.min_samples(0.9, tail=stats.MIN_TAIL_SAMPLES), 20)

    def test_accepted_floor_leaves_two_above_p90(self):
        values = [float(i) for i in range(1, 21)]
        self.assertIsNone(stats.percentile(values[:19], 0.9, tail=stats.MIN_TAIL_SAMPLES))
        p90 = stats.percentile(values, 0.9, tail=stats.MIN_TAIL_SAMPLES)
        self.assertEqual(sum(1 for v in values if v > p90), 2)

    def test_too_few_samples_give_none(self):
        self.assertIsNone(stats.percentile(list(range(99)), 0.9))
        self.assertIsNone(stats.percentile(list(range(19)), 0.5))

    def test_p90_leaves_ten_samples_above(self):
        values = [float(i) for i in range(1, 101)]
        random.Random(3).shuffle(values)
        p90 = stats.percentile(values, 0.9)
        self.assertEqual(p90, 90.0)
        self.assertEqual(sum(1 for v in values if v > p90), stats.TAIL_SAMPLES)

    def test_p50_is_nearest_rank(self):
        self.assertEqual(stats.percentile([float(i) for i in range(1, 21)], 0.5), 10.0)
        self.assertEqual(stats.percentile([float(i) for i in range(1, 22)], 0.5), 11.0)

    def test_rejects_out_of_range_q(self):
        with self.assertRaises(ValueError):
            stats.percentile([1.0] * 200, 1.0)


class RowHash(unittest.TestCase):
    ROWS = [f"NL{i:05d}|pm25|2024-03-01T0{i % 10}:00:00.000000Z|{i * 7}" for i in range(50)]

    def test_same_under_permutation(self):
        shuffled = self.ROWS[:]
        random.Random(1).shuffle(shuffled)
        self.assertEqual(stats.row_hash(self.ROWS), stats.row_hash(shuffled))

    def test_changes_with_one_value(self):
        changed = self.ROWS[:]
        changed[17] = changed[17].replace("|119", "|118")
        self.assertNotEqual(stats.row_hash(self.ROWS)[1], stats.row_hash(changed)[1])

    def test_counts_duplicates(self):
        n, h = stats.row_hash(self.ROWS + self.ROWS[:1])
        self.assertEqual(n, 51)
        self.assertNotEqual(h, stats.row_hash(self.ROWS)[1])

    def test_matches_the_harness_definition(self):
        # RowHash.hash in the harness: first 8 SHA-256 bytes, big-endian
        self.assertEqual(stats.hash64("a"), 0xCA978112CA1BBDCA)
        self.assertEqual(stats.row_hash([]), (0, "0"))


if __name__ == "__main__":
    unittest.main()
