"""Run with: python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_nearest_rank(self):
        vals = list(range(1, 101))
        self.assertEqual(stats.nearest_rank(vals, 50), 50)
        self.assertEqual(stats.nearest_rank(vals, 90), 90)
        self.assertEqual(stats.nearest_rank(vals, 99), 99)
        self.assertEqual(stats.nearest_rank([7.0], 50), 7.0)

    def test_highest_level_with_ten_beyond(self):
        # 100 samples: p90 has exactly 10 above it, p95 only 5
        self.assertEqual(stats.tail(range(1, 101)), (90, 90))
        # 1000 samples: p99 has 10 above it
        self.assertEqual(stats.tail(range(1, 1001)), (990, 99))
        # 40 samples: p75 has 10 above, p90 only 4
        self.assertEqual(stats.tail(range(1, 41)), (30, 75))

    def test_small_samples_fall_back_to_max(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100))
        self.assertEqual(stats.tail(range(1, 40)), (39, 100))

    def test_order_does_not_matter(self):
        vals = [5, 1, 9, 3, 7] * 10
        self.assertEqual(stats.tail(vals), stats.tail(sorted(vals)))


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_from_parent_only(self):
        spans = [
            {"id": 1, "parent": 0, "seconds": 10.0},   # op root
            {"id": 2, "parent": 1, "seconds": 4.0},
            {"id": 3, "parent": 1, "seconds": 3.0},
            {"id": 4, "parent": 2, "seconds": 1.5},    # grandchild
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 3.0)
        self.assertAlmostEqual(st[2], 2.5)
        self.assertAlmostEqual(st[3], 3.0)
        self.assertAlmostEqual(st[4], 1.5)
        # self times of a tree add up to the root's duration
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([{"id": 9, "parent": 0, "seconds": 2.0}]), {9: 2.0})


class DriverGap(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # op 0..10; jobs 1..4 and 3..6 overlap -> covered 1..6; 8..9 -> 1 more
        self.assertAlmostEqual(stats.driver_gap(0, 10, [(1, 4), (3, 6), (8, 9)]), 4.0)

    def test_nested_and_clipped_jobs(self):
        # 2..8 contains 3..5; -1..1 is clipped to 0..1; 9..12 to 9..10
        self.assertAlmostEqual(stats.driver_gap(0, 10, [(2, 8), (3, 5), (-1, 1), (9, 12)]), 2.0)

    def test_no_jobs_is_all_gap_and_outside_jobs_ignored(self):
        self.assertAlmostEqual(stats.driver_gap(5, 7, []), 2.0)
        self.assertAlmostEqual(stats.driver_gap(5, 7, [(0, 4), (8, 9)]), 2.0)


if __name__ == "__main__":
    unittest.main()
