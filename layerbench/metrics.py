"""Arithmetic of the benchmark: turns the harness's raw samples into the
end-to-end and per-layer metrics. Pure Python, no Spark; tested by
test_metrics.py.
"""
import math
import statistics

END_TO_END = {
    "rows_per_s": "rows/s",
    "job_p50_s": "s",
    "setup_s": "s",
    "passed_share": "share",
    "peak_heap_mb": "MB",
    "written_bytes_per_row": "B/row",
}

PER_LAYER = {
    "geom.norway_ms_per_call": "ms",
    "geom.polylabel_ns_per_vertex": "ns",
    "geom.rect_label_us_per_call": "us",
    "geom.cover_cells_per_polygon": "count",
    "geom.cover_us_per_polygon": "us",
    "geom.cell_of_ns_per_point": "ns",
    "geom.pip_ns_per_test": "ns",
    "functions.polylabel_rows_per_s": "rows/s",
    "functions.expr_to_kernel_ratio": "ratio",
    "plans.planning_ms_per_job": "ms",
    "operators.pip_join_s": "s",
    "operators.knn_join_s": "s",
    "operators.knn_jobs": "count",
    "operators.pip_candidates_per_match": "ratio",
    "operators.knn_candidates_per_output": "ratio",
    "operators.pip_broadcast": "0/1",
    "operators.tile_ms_per_image": "ms",
    "operators.assign_s": "s",
    "operators.dedup_pairs_s": "s",
    "operators.candidates_per_pair": "ratio",
    "operators.cc_s": "s",
    "operators.cc_jobs": "count",
    "operators.leaked_cached_rdds": "count",
    "sources.decode_ms_per_image": "ms",
    "sources.encode_ms_per_tile": "ms",
    "sources.commit_s": "s",
    "sources.files_committed": "count",
    "sources.committed_bytes_per_row": "B/row",
    "sources.input_gen_s": "s",
    "pipeline.wave_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.failed_tasks": "count",
    "spark.shuffle_write_bytes_per_row": "B/row",
    "spark.spill_bytes": "B",
    "spark.gc_share": "share",
    "spark.cpu_busy_share": "share",
    "spark.task_skew": "ratio",
    "spark.job_tail_s": "s",
    "spark.job_tail_pct": "%",
    "spark.job_tail_n": "count",
    "spark.first_job_s": "s",
    "trace_overhead_share": "share",
    "noise.load_1m": "load",
    "noise.steal_share": "share",
    "noise.window_gc_ms": "ms",
    "noise.window_jit_ms": "ms",
}

TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def tail(values, min_beyond=10):
    """Highest percentile of `values` with at least `min_beyond` samples
    beyond it (nearest-rank). Returns (value, percentile, sample count);
    with too few samples for any percentile, the median at 50.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    best = None
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= min_beyond:
            best = (xs[rank - 1], p)
    if best is None:
        return statistics.median(xs), 50.0, n
    return best[0], best[1], n


def job_passed(job, reference, oracle_ok):
    """A job passes when it did not throw, the oracle accepted the checked
    evaluation, and the job's digest equals the checked digest."""
    return oracle_ok and job.get("error") is None and job.get("digest") is not None \
        and job["digest"] == reference


def window_rows_per_s(jobs):
    """Input rows of the jobs that completed, over the summed wall time of
    every job in the window (work between jobs is not counted)."""
    wall = sum(j["wall_s"] for j in jobs)
    done = sum(j["rows"] for j in jobs if j.get("error") is None)
    return done / wall


def oracle_ok(raw):
    checks = raw.get("checks") or []
    return bool(checks) and all(c["ok"] for c in checks)


def end_to_end(raw):
    """The six end-to-end metrics of one run, plus (attempted, failed)."""
    jobs = raw["window"]["jobs"]
    ok = oracle_ok(raw)
    passed = sum(1 for j in jobs if job_passed(j, raw["reference_digest"], ok))
    rows = sum(j["rows"] for j in jobs)
    values = {
        "rows_per_s": window_rows_per_s(jobs),
        "job_p50_s": statistics.median(j["wall_s"] for j in jobs),
        "setup_s": raw["setup_s"],
        "passed_share": passed / len(jobs),
        "peak_heap_mb": max(raw["heap_after_gc_mb"]),
        "written_bytes_per_row": raw["window"]["written_bytes"] / rows,
    }
    return values, len(jobs), len(jobs) - passed


def noise(window):
    """Host and JVM disturbance over a window: load, CPU steal share, and
    the JVM's GC and JIT milliseconds spent inside it."""
    a, b = window["noise_start"], window["noise_end"]
    total = b["cpu_total_jiffies"] - a["cpu_total_jiffies"]
    steal = b["cpu_steal_jiffies"] - a["cpu_steal_jiffies"]
    return {
        "load_1m_start": (a["loadavg"] or [0.0])[0],
        "load_1m_end": (b["loadavg"] or [0.0])[0],
        "steal_share": steal / total if total > 0 else 0.0,
        "window_gc_ms": b["gc_ms"] - a["gc_ms"],
        "window_jit_ms": b["jit_ms"] - a["jit_ms"],
    }


def per_layer(raw):
    """Every per-layer metric of a traced run."""
    values = dict(raw["layers"])
    value, pct, n = tail(raw["spark_job_s"])
    values["spark.job_tail_s"] = value
    values["spark.job_tail_pct"] = pct
    values["spark.job_tail_n"] = float(n)
    untraced = window_rows_per_s(raw["window"]["jobs"])
    traced = window_rows_per_s(raw["traced_window"]["jobs"])
    values["trace_overhead_share"] = 1.0 - traced / untraced
    nz = noise(raw["traced_window"])
    values["noise.load_1m"] = nz["load_1m_end"]
    values["noise.steal_share"] = nz["steal_share"]
    values["noise.window_gc_ms"] = float(nz["window_gc_ms"])
    values["noise.window_jit_ms"] = float(nz["window_jit_ms"])
    missing = sorted(set(PER_LAYER) - set(values))
    if missing:
        raise ValueError(f"per-layer metrics missing: {missing}")
    return {k: values[k] for k in PER_LAYER}


def result(raw, trace):
    """The benchmark's final JSON object for one run."""
    e2e, attempted, failed = end_to_end(raw)
    if trace:
        values, units = per_layer(raw), PER_LAYER
    else:
        values, units = e2e, END_TO_END
    probes_ok = all(c["ok"] for c in raw.get("probe_checks", []))
    return {
        "correct": oracle_ok(raw) and failed == 0 and probes_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
