"""Arithmetic and tree export of tools/ab_pairs.py:
python3 -m unittest discover -s tools -p 'test_*.py'"""
import sys
import tempfile
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import ab_pairs  # noqa: E402


class QuantileTest(unittest.TestCase):
    def test_interpolates_between_order_statistics(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(ab_pairs.quantile(xs, 0.0), 1.0)
        self.assertEqual(ab_pairs.quantile(xs, 1.0), 4.0)
        self.assertEqual(ab_pairs.quantile(xs, 0.5), 2.5)
        self.assertEqual(ab_pairs.quantile(xs, 0.25), 1.75)
        self.assertEqual(ab_pairs.quantile(xs, 0.75), 3.25)

    def test_single_value(self):
        self.assertEqual(ab_pairs.summary([7.0]), (7.0, 7.0, 7.0))


class VerdictTest(unittest.TestCase):
    def test_ties_count_for_neither_side(self):
        self.assertEqual(ab_pairs.wins([1, 2, 3], [1, 3, 2], True), 1)
        self.assertEqual(ab_pairs.wins([1, 2, 3], [1, 3, 2], False), 1)

    def test_claim_needs_nine_tenths_and_more_than_parent_iqr(self):
        parent = [100.0 + i for i in range(10)]  # IQR 4.5, median 104.5
        change = [x + 5.0 for x in parent]  # median +5 > 4.5, 10/10 wins
        v = ab_pairs.verdict(parent, change, True, 0.25)
        self.assertEqual(v["wins"], 10)
        self.assertTrue(v["claim"])
        self.assertFalse(v["worse_than_bound"])
        self.assertEqual(v["parent"], (102.25, 104.5, 106.75))

    def test_gain_within_parent_iqr_is_no_claim(self):
        parent = [100.0 + i for i in range(10)]
        change = [x + 4.0 for x in parent]  # wins every pair, gain 4 < 4.5
        self.assertFalse(ab_pairs.verdict(parent, change, True, 0.25)["claim"])

    def test_eight_of_ten_wins_is_no_claim(self):
        parent = [100.0] * 10
        change = [200.0] * 8 + [100.0, 50.0]
        v = ab_pairs.verdict(parent, change, True, 0.25)
        self.assertEqual(v["wins"], 8)
        self.assertFalse(v["claim"])

    def test_lower_is_better_and_bound(self):
        parent = [1.0] * 10
        faster = ab_pairs.verdict(parent, [0.5] * 10, False, 0.25)
        self.assertTrue(faster["claim"])
        slower = ab_pairs.verdict(parent, [1.3] * 10, False, 0.25)
        self.assertFalse(slower["claim"])
        self.assertTrue(slower["worse_than_bound"])
        self.assertFalse(ab_pairs.verdict(parent, [1.2] * 10, False, 0.25)["worse_than_bound"])

    def test_unpaired_runs_are_rejected(self):
        with self.assertRaises(ValueError):
            ab_pairs.verdict([1.0, 2.0], [1.0], True, 0.1)


class ResultLineTest(unittest.TestCase):
    def test_reads_the_last_json_line(self):
        out = '# noise {"a": 1}\n{"metrics": {"rows_per_s": {"value": 5.0}}}\n'
        self.assertEqual(ab_pairs.last_json_line(out)["metrics"]["rows_per_s"]["value"], 5.0)


@unittest.skipUnless((ab_pairs.ROOT / ".git").exists(), "needs a git checkout")
class ExportTest(unittest.TestCase):
    def test_exports_a_revision_as_a_runnable_tree(self):
        with tempfile.TemporaryDirectory() as tmp:
            tree = Path(tmp) / "head"
            ab_pairs.export("HEAD", tree)
            self.assertTrue((tree / "layerbench" / "run.py").is_file())
            self.assertTrue((tree / "BENCHMARK.json").is_file())
            self.assertFalse((tree / ".git").exists())

    def test_unknown_revision_raises(self):
        with tempfile.TemporaryDirectory() as tmp:
            with self.assertRaises(RuntimeError):
                ab_pairs.export("no-such-revision-xyz", Path(tmp) / "t")


if __name__ == "__main__":
    unittest.main()
