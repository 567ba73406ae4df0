"""The benchmark's own tests: seeded inputs are byte-identical for one
seed and differ between seeds; the output checks accept equal results and
reject different ones.

    python3 -m unittest perfbench/test_perfbench.py    (from the repo root)
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class InputsTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.cp = run.build()
        work = os.path.join(run.WORK, "test")
        cls.a = run.generate(cls.cp, 7, os.path.join(work, "a"))
        cls.b = run.generate(cls.cp, 7, os.path.join(work, "b"))
        cls.c = run.generate(cls.cp, 8, os.path.join(work, "c"))

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.a, self.b)
        self.assertEqual(len(self.a), 12)  # ten tables and two changeset files

    def test_other_seed_other_bytes(self):
        for name in ("orders", "lineitem", "documents", "embeddings"):
            self.assertNotEqual(self.a[f"{name}.parquet"], self.c[f"{name}.parquet"], name)
        self.assertNotEqual(self.a["changes_csv"], self.c["changes_csv"])


class ChecksTest(unittest.TestCase):
    def test_cells(self):
        import datetime
        import decimal
        self.assertTrue(run.same(run.canon(1), run.canon(1.0)))
        self.assertTrue(run.same(run.canon(decimal.Decimal("0.1")), run.canon(0.1)))
        self.assertFalse(run.same(run.canon(0.1), run.canon(0.1001)))
        self.assertEqual(run.canon(datetime.datetime(1995, 3, 1)), "1995-03-01 00:00:00.000000")

    def test_pins(self):
        rec = {"input_seed": "3",
               "step_digests": {"a": ["1:2:3"], "b": ["4:5:6", "4:5:7"], "c": ["7:8:9"]}}
        bad = run.pin_check(rec, {"3": {"a": "1:2:3", "b": "4:5:6", "c": "7:8:0"}})
        self.assertEqual(bad, ["b: digest changed between passes",
                               "c: digest 7:8:9 != pinned 7:8:0"])
        bad = run.pin_check(rec, {"4": {"a": "1:2:3"}})
        self.assertIn("a: digest 1:2:3 != pinned None", bad)


if __name__ == "__main__":
    unittest.main()
