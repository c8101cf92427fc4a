"""The catalogue's table generator is a pure function of (seed, sf).

    python3 -m unittest perfbench/test_tables.py
"""
import hashlib
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import tables  # noqa: E402


def digest(d):
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))}


class TablesTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def gen(self, name, seed):
        d = os.path.join(self.dir, name)
        tables.generate(d, 0.001, seed)
        return digest(d)

    def test_same_seed_same_bytes(self):
        a = self.gen("a", 5)
        self.assertEqual(len(a), 10)
        self.assertEqual(a, self.gen("b", 5))

    def test_other_seed_other_rows(self):
        a, b = self.gen("a", 5), self.gen("b", 6)
        self.assertNotEqual(a["lineitem.parquet"], b["lineitem.parquet"])


if __name__ == "__main__":
    unittest.main()
