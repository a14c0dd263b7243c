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
            return {"6": 10.0, "norway": 300.0 if name == "parent" else 150.0, "sink": "0"}
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

    def test_differing_hashes_exit_1(self):
        other = dict(HASH, probe_hash="abce")
        code, out = quiet(["--parent", "a", "--change", "b", "--rounds", "1"],
                          fake({"parent": HASH, "change": other}, []))
        self.assertEqual(code, 1)
        self.assertIn("hashes: DIFFER", out)

    def test_a_failing_side_exits_2(self):
        def prepare(arg, tmp, name):
            raise kernel_ab.SideError("no build")
        code, _ = quiet(["--parent", "a", "--change", "b"], prepare)
        self.assertEqual(code, 2)


if __name__ == "__main__":
    unittest.main()
