#!/usr/bin/env python3
"""Fast self-test of the benchmark's metric arithmetic.

    python3 perfbench/selftest.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True

import metrics as M  # noqa: E402


def span(i, name, start, end, parent=-1, **attrs):
    return {"id": i, "name": name, "start": int(start * 1e9), "end": int(end * 1e9),
            "parent": parent, "job": 0, "attrs": attrs}


class TailTest(unittest.TestCase):
    def test_eleventh_largest(self):
        v, pct = M.tail(list(range(1, 101)))  # 1..100
        self.assertEqual(v, 90)                # 10 samples (91..100) beyond it
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        xs = [5, 3, 9, 1, 7, 2, 8, 6, 4, 10, 11, 12]
        self.assertEqual(M.tail(xs), M.tail(sorted(xs)))
        self.assertEqual(M.tail(xs)[0], 2)     # 10 samples (3..12) beyond it
        self.assertAlmostEqual(M.tail(xs)[1], 100 * 2 / 12)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(M.tail([3, 1, 2]), (3, 100.0))
        self.assertEqual(M.tail(list(range(10))), (9, 100.0))


class SelfTimeTest(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(M.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(M.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(M.union_length([(4, 4), (5, 3)]), 0)

    def test_children_are_subtracted(self):
        spans = [span(0, "job", 0, 10), span(1, "operators.build", 1, 4, 0),
                 span(2, "exec.action", 4, 9, 0), span(3, "exec.job", 5, 8, 2)]
        st = M.self_times(spans)
        self.assertAlmostEqual(st[0], 2.0)
        self.assertAlmostEqual(st[1], 3.0)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 3.0)
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_children_are_clipped_to_their_parent(self):
        spans = [span(0, "job", 0, 10), span(1, "exec.job", 8, 12, 0)]
        st = M.self_times(spans)
        self.assertAlmostEqual(st[0], 8.0)
        self.assertAlmostEqual(st[1], 2.0)
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_concurrent_siblings_count_their_overlap_once(self):
        spans = [span(0, "exec.action", 0, 10), span(1, "exec.job", 1, 6, 0),
                 span(2, "exec.job", 3, 8, 0)]
        st = M.self_times(spans)
        self.assertAlmostEqual(st[0], 3.0)
        self.assertAlmostEqual(st[1], 5.0)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_driver_gap_excludes_jobs_and_planning(self):
        spans = [span(0, "job", 0, 10), span(1, "operators.build", 0, 4, 0),
                 span(2, "plans.analyze", 0.5, 1.5, 1), span(3, "exec.job", 2, 3, 1),
                 span(4, "exec.action", 4, 10, 0), span(5, "plans.optimize", 4, 5, 4),
                 span(6, "exec.job", 5, 9, 4, tasks=8, task_s=12.0)]
        fig = M.job_layers(spans, {}, cores=4)
        self.assertAlmostEqual(fig["driver.gap_s"], 10 - 7)
        self.assertAlmostEqual(fig["operators.build_jobs"], 1)
        self.assertAlmostEqual(fig["exec.busy_frac"], 12.0 / (6 * 4))
        self.assertLessEqual(fig["self_s_sum"], fig["wall_s"] + 1e-9)


class AmplificationTest(unittest.TestCase):
    def test_write_amp(self):
        self.assertAlmostEqual(M.write_amp(bytes_written=3000, batch_bytes=1000), 3.0)

    def test_space_amp(self):
        self.assertAlmostEqual(M.space_amp(bytes_on_disk=1500, compact_bytes=1000), 1.5)


if __name__ == "__main__":
    unittest.main(verbosity=1)
