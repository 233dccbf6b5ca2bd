"""Span recording and self-time arithmetic."""

import unittest

from benchmark.trace import (Span, Tracer, self_time_by_name, self_times,
                             total_by_name)


def span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent, "r")


class SelfTimeTest(unittest.TestCase):
    def test_leaf_is_its_duration(self):
        self.assertEqual(self_times([span(1, "a", 0.0, 2.5)]), {1: 2.5})

    def test_children_are_subtracted(self):
        spans = [span(1, "root", 0.0, 10.0), span(2, "a", 1.0, 3.0, 1),
                 span(3, "b", 5.0, 6.0, 1)]
        self.assertEqual(self_times(spans), {1: 7.0, 2: 2.0, 3: 1.0})

    def test_overlapping_children_count_once(self):
        spans = [span(1, "root", 0.0, 10.0), span(2, "a", 1.0, 4.0, 1),
                 span(3, "b", 3.0, 6.0, 1), span(4, "c", 6.0, 7.0, 1)]
        self.assertEqual(self_times(spans)[1], 4.0)

    def test_children_clipped_to_parent(self):
        spans = [span(1, "root", 2.0, 5.0), span(2, "a", 1.0, 3.0, 1),
                 span(3, "b", 4.5, 9.0, 1)]
        self.assertEqual(self_times(spans)[1], 1.5)

    def test_self_time_summed_per_name(self):
        spans = [span(1, "call", 0.0, 10.0), span(2, "io", 1.0, 3.0, 1),
                 span(3, "call", 20.0, 25.0), span(4, "io", 21.0, 22.0, 3)]
        self.assertEqual(self_time_by_name(spans), {"call": 12.0, "io": 3.0})

    def test_grandchildren_belong_to_their_parent(self):
        spans = [span(1, "root", 0.0, 10.0), span(2, "a", 0.0, 6.0, 1),
                 span(3, "b", 1.0, 5.0, 2)]
        self.assertEqual(self_times(spans), {1: 4.0, 2: 2.0, 3: 4.0})


class TracerTest(unittest.TestCase):
    def test_disabled_records_nothing(self):
        t = Tracer()
        with t.span("x"):
            pass
        self.assertEqual(t.spans, [])

    def test_parents_and_wrap(self):
        t = Tracer()
        t.enabled = True
        t.run = "call-1"
        inner = t.wrap("inner", lambda x: x + 1)
        with t.span("outer"):
            self.assertEqual(inner(1), 2)
        inner_s, outer_s = t.spans
        self.assertEqual((inner_s.name, outer_s.name), ("inner", "outer"))
        self.assertEqual(inner_s.parent, outer_s.id)
        self.assertIsNone(outer_s.parent)
        self.assertEqual(inner_s.run, "call-1")

    def test_total_by_parent_name(self):
        spans = [span(1, "call", 0.0, 10.0), span(2, "count", 0.0, 1.0, 1),
                 span(3, "other", 2.0, 8.0, 1), span(4, "count", 3.0, 5.0, 3)]
        self.assertEqual(total_by_name(spans, "count"), 3.0)
        self.assertEqual(total_by_name(spans, "count", "call"), 1.0)


if __name__ == "__main__":
    unittest.main()
