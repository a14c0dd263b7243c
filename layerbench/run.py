"""Benchmark entry point.

    python3 layerbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and harness from source (layerbench/build.py), runs one
JVM client for the workload, and prints as its last stdout line one JSON
object with `correct`, `attempted`, `failed` and `metrics` (end-to-end
metrics with --trace 0, per-layer metrics with --trace 1). The line before
it starts with `# noise` and carries the run's disturbance evidence.
Exits non-zero, printing no result, when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("label_skewed", "image_pipeline")
SLOTS = min(4, len(os.sched_getaffinity(0)))
HEAP = "2g"
DEADLINE_S = 170.0
FIRST_RUN_DEADLINE_S = 880.0

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(classpath, args, work, deadline):
    out = work / "raw.json"
    log = work / "jvm.log"
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "layerbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--slots", str(SLOTS), "--work", str(work),
            "--out", str(out), "--t0-ms", str(int(time.time() * 1000))]
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("benchmark JVM timed out")
    if proc.returncode != 0 or not out.exists():
        raise RuntimeError(f"benchmark JVM exited with {proc.returncode}")
    raw = json.loads(out.read_text())
    if not raw.get("ok"):
        raise RuntimeError(f"benchmark run failed: {raw.get('error')}")
    return raw


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.monotonic()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"layerbench: build failed: {e}", file=sys.stderr)
        return 2
    built_s = time.monotonic() - start
    deadline = start + (FIRST_RUN_DEADLINE_S if built_s > 60 else DEADLINE_S)

    base = build.build_dir() / "layerbench"
    for stale in base.glob("work-*"):
        shutil.rmtree(stale, ignore_errors=True)
    work = base / f"work-{os.getpid()}"
    keep = base / "runs"
    keep.mkdir(parents=True, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    try:
        raw = run_jvm(classpath, args, work, deadline)
        res = metrics.result(raw, args.trace == 1)
    except Exception as e:  # the run failed: report it, print no result
        print(f"layerbench: {e}", file=sys.stderr)
        log = work / "jvm.log"
        if log.exists():
            shutil.copy(log, keep / f"{tag}.log")
            print(log.read_text()[-3000:], file=sys.stderr)
        return 1
    finally:
        if (work / "trace.jsonl").exists():
            shutil.copy(work / "trace.jsonl", keep / f"{tag}.trace.jsonl")
        if (work / "raw.json").exists():
            shutil.copy(work / "raw.json", keep / f"{tag}.raw.json")
        shutil.rmtree(work, ignore_errors=True)

    diag = {"window": metrics.noise(raw["window"]), "forced_gc_ms": raw["forced_gc_ms"],
            "jobs": len(raw["window"]["jobs"]), "first_job_s": raw["first_job_s"],
            "checks": {c["name"]: c["ok"] for c in raw["checks"] + raw.get("probe_checks", [])}}
    print("# noise " + json.dumps(diag, sort_keys=True))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
