"""Tests of the seeded input generator.

  python3 -m unittest e2ebench/test_gen.py

The same seed must give byte-identical snapshots (equal content hashes
per table and cycle); a different seed must give different churn.
"""
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(HERE), ".bench_build", "e2e", "test-gen")


def hashes(manifest):
    return [{t: v["sha256"] for t, v in c["tables"].items()} for c in manifest["cycles"]]


class GenTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def make(self, kind, seed, name):
        return gen.generate(kind, seed, 3, 300, os.path.join(SCRATCH, name))

    def test_same_seed_same_content(self):
        for kind in ["sync", "corpus"]:
            a, b = self.make(kind, 7, f"{kind}-a"), self.make(kind, 7, f"{kind}-b")
            self.assertEqual(hashes(a), hashes(b))
            self.assertEqual([c["churn"] for c in a["cycles"]], [c["churn"] for c in b["cycles"]])

    def test_other_seed_other_churn(self):
        for kind in ["sync", "corpus"]:
            a, b = self.make(kind, 7, f"{kind}-a"), self.make(kind, 8, f"{kind}-b")
            self.assertNotEqual([c["churn"] for c in a["cycles"]], [c["churn"] for c in b["cycles"]])
            for ha, hb in zip(hashes(a)[1:], hashes(b)[1:]):
                self.assertNotEqual(ha, hb)

    def test_churn_is_applied(self):
        m = self.make("sync", 7, "sync")
        for c in m["cycles"][1:]:
            ch = c["churn"]
            self.assertGreater(min(ch.values()), 0, ch)


if __name__ == "__main__":
    unittest.main()
