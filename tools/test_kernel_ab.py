"""Argument handling and verdict of tools/kernel_ab.py, with the JVM side
replaced by canned results:
python3 -m unittest discover -s tools -p 'test_*.py'"""
import contextlib
import io
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import kernel_ab  # noqa: E402

HASH = {"labels": 3, "label_hash": "00ff", "probes": 5, "probe_hash": "abcd"}


def fake(hashes, calls):
    """A `prepare` whose sides answer `hash` from `hashes` and `time` with
    fixed per-group times, recording (side, mode) in `calls`."""
    def prepare(arg, tmp, name):
        def run(mode):
            calls.append((name, mode))
            if mode == "hash":
                return hashes[name]
            return {"6": 10.0, "norway": 300.0 if name == "parent" else 150.0,
                    "norway+build": 400.0 if name == "parent" else 390.0, "sink": "0"}
        return run
    return prepare


def quiet(argv, prepare):
    out = io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(io.StringIO()):
        code = kernel_ab.main(argv, prepare)
    return code, out.getvalue()


class ArgumentsTest(unittest.TestCase):
    def test_both_sides_are_required(self):
        with self.assertRaises(SystemExit) as e, contextlib.redirect_stderr(io.StringIO()):
            kernel_ab.main(["--parent", "HEAD~1"], fake({}, []))
        self.assertEqual(e.exception.code, 2)

    def test_rounds_must_be_positive(self):
        with self.assertRaises(SystemExit) as e, contextlib.redirect_stderr(io.StringIO()):
            kernel_ab.main(["--parent", "a", "--change", "b", "--rounds", "0"], fake({}, []))
        self.assertEqual(e.exception.code, 2)

    def test_sides_get_their_own_argument(self):
        seen = {}

        def prepare(arg, tmp, name):
            seen[name] = arg
            return fake({"parent": HASH, "change": HASH}, [])(arg, tmp, name)
        quiet(["--parent", "HEAD~1", "--change", "HEAD", "--rounds", "1"], prepare)
        self.assertEqual(seen, {"parent": "HEAD~1", "change": "HEAD"})


class VerdictTest(unittest.TestCase):
    def test_equal_hashes_exit_0_and_rounds_alternate(self):
        calls = []
        code, out = quiet(["--parent", "a", "--change", "b", "--rounds", "3"],
                          fake({"parent": HASH, "change": dict(HASH)}, calls))
        self.assertEqual(code, 0)
        self.assertIn("hashes: equal", out)
        times = [side for side, mode in calls if mode == "time"]
        self.assertEqual(times, ["parent", "change", "change", "parent", "parent", "change"])
        self.assertRegex(out, r"norway +300\.0 \[300\.0, 300\.0\] +150\.0 \[150\.0, 150\.0\] +0\.500")

    def test_build_groups_print_next_to_the_label_groups(self):
        # a change that moves work out of the label call into polygon
        # construction halves "norway" but barely moves "norway+build"
        code, out = quiet(["--parent", "a", "--change", "b", "--rounds", "1"],
                          fake({"parent": HASH, "change": HASH}, []))
        self.assertEqual(code, 0)
        self.assertIn("+build: polygon built inside the call", out)
        self.assertRegex(out, r"norway +300\.0 \[300\.0, 300\.0\] +150\.0 \[150\.0, 150\.0\] +0\.500\n")
        self.assertRegex(out, r"norway\+build +400\.0 \[400\.0, 400\.0\] +390\.0 \[390\.0, 390\.0\] +0\.975\n")

    def test_differing_hashes_exit_1(self):
        other = dict(HASH, probe_hash="abce")
        code, out = quiet(["--parent", "a", "--change", "b", "--rounds", "1"],
                          fake({"parent": HASH, "change": other}, []))
        self.assertEqual(code, 1)
        self.assertIn("hashes: DIFFER", out)

    def test_quartiles_print_and_overlapping_ranges_are_unresolved(self):
        # per-round times: "6" spreads on both sides so the quartile ranges
        # overlap; "norway" is apart on every round
        rounds = {"parent": iter([(10.0, 300.0), (14.0, 310.0), (12.0, 290.0), (11.0, 305.0), (13.0, 295.0)]),
                  "change": iter([(11.0, 150.0), (15.0, 155.0), (9.0, 145.0), (12.0, 152.0), (13.0, 148.0)])}

        def prepare(arg, tmp, name):
            def run(mode):
                if mode == "hash":
                    return HASH
                six, norway = next(rounds[name])
                return {"6": six, "norway": norway, "sink": "0"}
            return run
        code, out = quiet(["--parent", "a", "--change", "b", "--rounds", "5"], prepare)
        self.assertEqual(code, 0)
        self.assertIn("[q1, q3]", out)
        self.assertRegex(out, r"6 +12\.000 \[11\.000, 13\.000\] +12\.000 \[11\.000, 13\.000\] +1\.000  unresolved")
        self.assertRegex(out, r"norway +300\.0 \[295\.0, 305\.0\] +150\.0 \[148\.0, 152\.0\] +0\.500\n")

    def test_touching_ranges_are_unresolved(self):
        self.assertEqual(kernel_ab.quartiles([5.0]), (5.0, 5.0, 5.0))
        calls = []
        _, out = quiet(["--parent", "a", "--change", "b", "--rounds", "1"],
                       fake({"parent": HASH, "change": HASH}, calls))
        self.assertRegex(out, r"6 +10\.000 \[10\.000, 10\.000\] +10\.000 \[10\.000, 10\.000\] +1\.000  unresolved")
        self.assertNotRegex(out, r"norway.*unresolved")

    def test_a_failing_side_exits_2(self):
        def prepare(arg, tmp, name):
            raise kernel_ab.SideError("no build")
        code, _ = quiet(["--parent", "a", "--change", "b"], prepare)
        self.assertEqual(code, 2)


if __name__ == "__main__":
    unittest.main()
