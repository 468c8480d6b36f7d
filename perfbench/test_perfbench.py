"""Tests of the benchmark's Python side: the seeded generator and the
output comparison. Run: python3 -m unittest discover -s perfbench"""
import os
import shutil
import tempfile
import unittest

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen

HERE = os.path.dirname(os.path.abspath(__file__))


class GenTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=os.path.join(HERE, "target"))

    def tearDown(self):
        shutil.rmtree(self.dir)

    def path(self, name):
        return os.path.join(self.dir, name)

    def test_same_seed_gives_identical_files(self):
        gen.write(self.path("a"), 7, 1 << 14)
        gen.write(self.path("b"), 7, 1 << 14)
        gen.write(self.path("c"), 8, 1 << 14)
        with open(self.path("a"), "rb") as a, open(self.path("b"), "rb") as b, \
                open(self.path("c"), "rb") as c:
            first = a.read()
            self.assertEqual(first, b.read())
            self.assertNotEqual(first, c.read())

    def test_shape(self):
        stats = gen.write(self.path("g"), 1, 1 << 14)
        t = pq.read_table(self.path("g"))
        self.assertEqual(t.num_rows, 1 << 14)
        self.assertEqual(stats["groups_cell"], (1 << 14) // 16)
        self.assertTrue(0.04 < stats["nan_share"] < 0.06)
        v = t.column("v").to_numpy()
        self.assertTrue(np.all(v[~np.isnan(v)] == np.rint(v[~np.isnan(v)])))

    def test_compare_finds_value_and_nan_null_differences(self):
        want = pa.table({"k": [1, 2, 3], "x": [1.0, float("nan"), None], "n": [5, 6, 7]})
        pq.write_table(want, self.path("same"))
        self.assertEqual(check.compare(self.path("same"), ["k"], want), [])
        moved = pa.table({"k": [3, 2, 1], "x": [None, None, 1.0 + 1e-12], "n": [7, 6, 5]})
        pq.write_table(moved, self.path("moved"))
        self.assertEqual(check.compare(self.path("moved"), ["k"], want), ["column x: 1 of 3 rows differ"])
        off = pa.table({"k": [1, 2, 3], "x": [1.0, float("nan"), None], "n": [5, 6, 8]})
        pq.write_table(off, self.path("off"))
        self.assertEqual(check.compare(self.path("off"), ["k"], want), ["column n: 1 of 3 rows differ"])


if __name__ == "__main__":
    unittest.main()
