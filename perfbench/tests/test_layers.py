"""Interval arithmetic behind self time and scheduler.driver_gap_s, and
the generator's determinism.

    python3 -m unittest discover -s perfbench/tests -p 'test_layers.py'
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import layers  # noqa: E402


class IntervalTest(unittest.TestCase):
    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(layers.covered([], 0, 10), 0)
        self.assertEqual(layers.covered([(1, 3), (2, 5)], 0, 10), 4)
        self.assertEqual(layers.covered([(1, 3), (6, 8)], 0, 10), 4)
        self.assertEqual(layers.covered([(-5, 2), (9, 20)], 0, 10), 3)
        self.assertEqual(layers.covered([(2, 9), (3, 4)], 0, 10), 7)
        self.assertEqual(layers.covered([(11, 12)], 0, 10), 0)

    def test_driver_gap_is_op_time_with_no_job_running(self):
        ops = [{"t0": 0, "t1": 10}, {"t0": 20, "t1": 30}]
        jobs = [{"t0": 1, "t1": 4}, {"t0": 3, "t1": 6}, {"t0": 8, "t1": 22},
                {"t0": 25, "t1": 26}]
        # op 1: jobs cover [1,6] and [8,10] -> 7 busy, 3 idle
        # op 2: jobs cover [20,22] and [25,26] -> 3 busy, 7 idle
        self.assertEqual(layers.driver_gap_ms(ops, jobs), 10)

    def test_self_time_subtracts_children_once(self):
        spans = [
            {"id": 1, "parent": 0, "layer": "pipeline", "t0": 0, "t1": 1000},
            {"id": 2, "parent": 1, "layer": "zones", "t0": 100, "t1": 400},
            {"id": 3, "parent": 1, "layer": "zones", "t0": 300, "t1": 600},
            {"id": 4, "parent": 3, "layer": "functions", "t0": 350, "t1": 450},
        ]
        got = layers.self_time_by_layer(spans)
        self.assertAlmostEqual(got["pipeline"], 0.5)   # 1000 - 500 covered
        self.assertAlmostEqual(got["zones"], 0.5)      # 300 + (300 - 100)
        self.assertAlmostEqual(got["functions"], 0.1)


class GeneratorTest(unittest.TestCase):
    TEXTS = ["alpha beta gamma delta epsilon zeta eta theta iota kappa"] * 5

    def write(self, fn, seed):
        with tempfile.TemporaryDirectory() as d:
            meta = fn(d, seed, self.TEXTS, 4, 200)
            files = {}
            for n in sorted(os.listdir(d)):
                with open(os.path.join(d, n), "rb") as f:
                    files[n] = f.read()
        meta.pop("dir")
        return meta, files

    def test_same_seed_same_bytes(self):
        for fn in (gen.write_batch, gen.write_stream):
            m1, f1 = self.write(fn, 7)
            m2, f2 = self.write(fn, 7)
            m3, f3 = self.write(fn, 8)
            self.assertEqual(f1, f2)
            self.assertNotEqual(f1, f3)
            self.assertEqual(m1, m2)

    def test_batch_expectations(self):
        meta, _ = self.write(gen.write_batch, 3)
        e = meta["expect"]
        # re-sends and repeats make the first day's keys the only ones
        # all new, and every later day stage more keys than it inserts
        self.assertEqual(e[0]["staged"], e[0]["inserted"])
        for day in e[1:]:
            self.assertLess(day["inserted"], day["staged"])
        self.assertEqual(sum(d["inserted"] for d in e), meta["analytical_rows"])


if __name__ == "__main__":
    unittest.main()
