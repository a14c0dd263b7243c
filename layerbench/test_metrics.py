"""Tests of the benchmark's arithmetic; no Spark, no JVM.

    python3 -m unittest discover -s layerbench -p 'test_*.py'
"""
import json
import unittest
from pathlib import Path

import metrics


def job(wall, rows=100, digest="3:1:2", error=None):
    return {"wall_s": wall, "rows": rows, "digest": digest, "error": error, "leaked_rdds": 0}


def raw_run(jobs, checks_ok=True, reference="3:1:2"):
    noise = {"loadavg": [1.0], "cpu_total_jiffies": 100, "cpu_steal_jiffies": 0, "gc_ms": 0, "jit_ms": 0}
    return {
        "window": {"jobs": jobs, "written_bytes": 5000, "noise_start": noise, "noise_end": noise},
        "reference_digest": reference,
        "checks": [{"name": "oracle", "ok": checks_ok, "detail": ""}],
        "setup_s": 12.5,
        "heap_after_gc_mb": [90.0, 120.0, 110.0],
    }


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # 40 samples: p75 leaves 10 beyond (ranks 31..40), p90 only 4
        value, pct, n = metrics.tail([float(i) for i in range(1, 41)])
        self.assertEqual((value, pct, n), (30.0, 75.0, 40))

    def test_p99_needs_a_thousand_samples(self):
        xs = [float(i) for i in range(1, 1001)]
        self.assertEqual(metrics.tail(xs)[1], 99.0)
        self.assertEqual(metrics.tail(xs[:999])[1], 95.0)

    def test_order_does_not_matter(self):
        xs = [float((i * 37) % 41) for i in range(41)]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(metrics.tail([1.0, 2.0, 3.0, 10.0]), (2.5, 50.0, 4))
        # 20 samples: p50 leaves exactly 10 beyond
        self.assertEqual(metrics.tail([float(i) for i in range(20)])[1:], (50.0, 20))


class WindowTest(unittest.TestCase):
    def test_rows_per_s_is_rows_over_summed_job_wall(self):
        jobs = [job(0.5), job(1.5), job(2.0)]
        self.assertAlmostEqual(metrics.window_rows_per_s(jobs), 300 / 4.0)

    def test_failed_job_counts_wall_but_not_rows(self):
        jobs = [job(1.0), job(1.0, error="boom", digest=None)]
        self.assertAlmostEqual(metrics.window_rows_per_s(jobs), 100 / 2.0)

    def test_end_to_end_metrics(self):
        values, attempted, failed = metrics.end_to_end(raw_run([job(1.0), job(3.0), job(2.0)]))
        self.assertEqual((attempted, failed), (3, 0))
        self.assertAlmostEqual(values["rows_per_s"], 50.0)
        self.assertAlmostEqual(values["job_p50_s"], 2.0)
        self.assertEqual(values["setup_s"], 12.5)
        self.assertEqual(values["passed_share"], 1.0)
        self.assertEqual(values["peak_heap_mb"], 120.0)
        self.assertAlmostEqual(values["written_bytes_per_row"], 5000 / 300)


class DigestTest(unittest.TestCase):
    def test_equal_digest_passes(self):
        self.assertTrue(metrics.job_passed(job(1.0), "3:1:2", True))

    def test_mismatch_error_or_failed_oracle_fail(self):
        self.assertFalse(metrics.job_passed(job(1.0, digest="3:1:9"), "3:1:2", True))
        self.assertFalse(metrics.job_passed(job(1.0, digest=None, error="x"), "3:1:2", True))
        self.assertFalse(metrics.job_passed(job(1.0), "3:1:2", False))

    def test_passed_share_and_result(self):
        run = raw_run([job(1.0), job(1.0, digest="4:0:0"), job(1.0), job(1.0)])
        res = metrics.result(run, trace=False)
        self.assertEqual((res["attempted"], res["failed"], res["correct"]), (4, 1, False))
        self.assertEqual(res["metrics"]["passed_share"]["value"], 0.75)
        self.assertEqual(set(res["metrics"]), set(metrics.END_TO_END))

    def test_failed_probe_oracle_makes_the_run_incorrect(self):
        run = raw_run([job(1.0), job(1.0)])
        run["probe_checks"] = [{"name": "join_clustered.knn_brute_force", "ok": False, "detail": ""}]
        res = metrics.result(run, trace=False)
        self.assertEqual((res["failed"], res["correct"]), (0, False))

    def test_failed_oracle_fails_every_job(self):
        res = metrics.result(raw_run([job(1.0), job(1.0)], checks_ok=False), trace=False)
        self.assertEqual((res["failed"], res["correct"]), (2, False))


class CatalogTest(unittest.TestCase):
    def test_benchmark_json_matches_the_catalog(self):
        path = Path(__file__).resolve().parent.parent / "BENCHMARK.json"
        if not path.exists():
            self.skipTest("no BENCHMARK.json")
        spec = json.loads(path.read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, metrics.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
