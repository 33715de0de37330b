"""Planted-input tests for the span rules: python3 -m unittest discover perfbench"""
import unittest

import spans


def span(i, parent, t0, t1):
    return {"id": i, "parent": parent, "t0": t0, "t1": t1}


class SelfTime(unittest.TestCase):
    def test_children_overlapping_each_other_count_once(self):
        root = span(1, 0, 0, 100)
        kids = [span(2, 1, 10, 40), span(3, 1, 30, 50), span(4, 1, 80, 90)]
        # covered: [10, 50] and [80, 90] = 50 ms
        self.assertEqual(spans.self_time(root, kids), 50)

    def test_child_outside_the_parent_is_clipped(self):
        root = span(1, 0, 100, 200)
        self.assertEqual(spans.self_time(root, [span(2, 1, 150, 260)]), 50)

    def test_self_times_follow_parent_links(self):
        recs = [span(1, 0, 0, 100), span(2, 1, 0, 60), span(3, 2, 10, 20), span(4, 0, 200, 210)]
        self.assertEqual(spans.self_times(recs), {1: 40, 2: 50, 3: 10, 4: 10})

    def test_driver_gap_is_wall_minus_job_union(self):
        jobs = [{"t0": 5, "t1": 25}, {"t0": 20, "t1": 30}]
        self.assertEqual(spans.driver_gap(span(1, 0, 0, 50), jobs), 25)


class Tail(unittest.TestCase):
    def test_exactly_ten_samples_lie_above(self):
        values = list(range(1, 101))  # 1..100
        value, pct, n = spans.tail(values)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(v > value for v in values), 10)

    def test_order_of_input_does_not_matter(self):
        values = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11, 0]
        self.assertEqual(spans.tail(values)[0], 1)

    def test_too_few_samples_give_no_tail(self):
        self.assertIsNone(spans.tail(list(range(10))))
        self.assertEqual(spans.tail(list(range(11)))[0], 0)


class Contiguous(unittest.TestCase):
    def test_parts_and_remainder_sum_to_the_whole(self):
        parts, rest = spans.contiguous(0, 100, [("b", 70), ("a", 20)])
        self.assertEqual(parts, [("a", 20), ("b", 50)])
        self.assertEqual(rest, 30)


if __name__ == "__main__":
    unittest.main()
