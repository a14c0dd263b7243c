"""Arithmetic tests of tools/trace_jobs.py on hand-made traces."""
import json
import os
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import trace_jobs  # noqa: E402


def span(id, name, start, end, parent=0, jobs=0, tasks=()):
    return {"id": id, "name": name, "parent": parent,
            "start_ms": start, "end_ms": end, "spark_jobs": jobs, "tasks": len(tasks),
            "task_offsets_ms": [list(t) for t in tasks]}


class CoveredTest(unittest.TestCase):
    def test_union_of_overlapping_and_disjoint(self):
        self.assertEqual(trace_jobs.covered([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(trace_jobs.covered([(3, 4), (0, 10)]), 10)
        self.assertEqual(trace_jobs.covered([]), 0)


class BreakdownTest(unittest.TestCase):
    def test_one_span(self):
        # two concurrent tasks 100-200 and 150-300, one 400-450 in a 1000 ms span
        s = span(1, "pipeline.runImagePipeline", 5000, 6000, jobs=2,
                 tasks=[(100, 100, 90, 80), (150, 150, 140, 120), (400, 50, 45, 30)])
        b = trace_jobs.breakdown(s, [s])
        self.assertEqual(b, {"wall_ms": 1000, "jobs": 2, "tasks": 3, "first_task_ms": 100,
                             "run_ms": 275, "cpu_ms": 230, "offcpu_ms": 45,
                             "driver_only_ms": 1000 - 250})

    def test_nested_span_tasks_shift_and_clip(self):
        outer = span(1, "outer", 1000, 2000, jobs=1, tasks=[(900, 300, 10, 5)])
        inner = span(2, "inner", 1200, 1500, parent=1, jobs=1, tasks=[(0, 100, 50, 40)])
        trees = trace_jobs.subtrees([outer, inner])
        b = trace_jobs.breakdown(outer, trees[1])
        # inner's task runs 200-300 of outer; outer's own task is clipped to 900-1000
        self.assertEqual(b["jobs"], 2)
        self.assertEqual(b["tasks"], 2)
        self.assertEqual(b["first_task_ms"], 200)
        self.assertEqual(b["driver_only_ms"], 1000 - 100 - 100)
        self.assertEqual(trace_jobs.breakdown(inner, trees[2])["driver_only_ms"], 200)

    def test_offcpu_sums_run_minus_cpu_over_the_subtree(self):
        # a task that waits 120 of its 300 ms run (a spawned process, say),
        # and a nested span's task that waits 10 of 50
        outer = span(1, "outer", 0, 1000, jobs=1, tasks=[(0, 310, 300, 180)])
        inner = span(2, "inner", 400, 500, parent=1, jobs=1, tasks=[(0, 60, 50, 40)])
        trees = trace_jobs.subtrees([outer, inner])
        self.assertEqual(trace_jobs.breakdown(outer, trees[1])["offcpu_ms"], 130)
        self.assertEqual(trace_jobs.breakdown(inner, trees[2])["offcpu_ms"], 10)

    def test_no_tasks(self):
        b = trace_jobs.breakdown(span(1, "x", 0, 40), [span(1, "x", 0, 40)])
        self.assertIsNone(b["first_task_ms"])
        self.assertEqual(b["driver_only_ms"], 40)


class TableTest(unittest.TestCase):
    def spans(self):
        return [span(1, "job", 0, 100, jobs=1, tasks=[(10, 20, 15, 12)]),
                span(2, "probe", 100, 110),
                span(3, "job", 200, 400, jobs=3, tasks=[(30, 10, 8, 6), (50, 10, 9, 7)])]

    def test_filter_and_median_line(self):
        lines = trace_jobs.table(self.spans(), "job")
        self.assertEqual(lines[0].split("\t"), ["id", "name"] + list(trace_jobs.COLUMNS))
        self.assertEqual(len(lines), 4)
        self.assertEqual(lines[1].split("\t"), ["1", "job", "100", "1", "1", "10", "15", "12", "3",
                                                "80"])
        self.assertEqual(lines[3].split("\t"), ["median(2)", "job", "150", "2", "1.5", "20", "16",
                                                "12.5", "3.5", "130"])

    def test_cli_reads_a_trace_file(self):
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "t.trace.jsonl")
            with open(p, "w", encoding="utf-8") as f:
                f.write("\n".join(json.dumps(s) for s in self.spans()) + "\n")
            out = subprocess.run([sys.executable, str(Path(trace_jobs.__file__)), p],
                                 check=True, capture_output=True, text=True).stdout
        self.assertEqual(len(out.strip().split("\n")), 5)
        self.assertIn("2\tprobe\t10\t0\t0\t\t0\t0\t0\t10", out)


if __name__ == "__main__":
    unittest.main()
