"""Interleaved parent/change benchmark pairs with the claim verdict.

    python3 tools/ab_pairs.py --parent HEAD~1 --change . \
        --workloads label_skewed,image_pipeline --first-seed 101 --pairs 10

Each side is a source tree: a directory is used as it is, anything else is
a git revision of this repository, exported with `git archive` into a
temporary directory (no worktree, nothing written under .git). For every
workload, pair i runs `python3 layerbench/run.py --workload W --seed
(first_seed + i) --seconds S --trace 0` once in each tree, S being
BENCHMARK.json's `run_seconds`, the parent first on even i and the change
first on odd i. Each tree builds into its own .bench_build.

Per workload and end-to-end metric it prints each side's median and
quartiles, the pairs the change won (ties count for neither), and whether
a gain claim holds: the change wins at least 9/10 of the pairs run and its
median is better than the parent's by more than the parent's interquartile
range. It also flags a median that is worse than the parent's by more than
the metric's bound in BENCHMARK.json. Standard library only.
"""
import argparse
import json
import math
import os
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def quantile(xs, q):
    """Linearly interpolated quantile of a non-empty sample (the
    'inclusive' rule: q=0 is the minimum, q=1 the maximum)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def summary(xs):
    """(first quartile, median, third quartile)."""
    return quantile(xs, 0.25), quantile(xs, 0.5), quantile(xs, 0.75)


def wins(parent, change, higher_is_better):
    """Pairs the change won; equal values count for neither side."""
    return sum(1 for p, c in zip(parent, change)
               if (c > p if higher_is_better else c < p))


def verdict(parent, change, higher_is_better, bound):
    """The comparison of one metric over paired runs (parent[i] and
    change[i] ran with the same seed)."""
    if len(parent) != len(change) or not parent:
        raise ValueError("need the same, non-zero number of runs per side")
    pq1, pmed, pq3 = summary(parent)
    cq1, cmed, cq3 = summary(change)
    won = wins(parent, change, higher_is_better)
    gain = cmed - pmed if higher_is_better else pmed - cmed
    loss = -gain / abs(pmed) if pmed else (0.0 if gain >= 0 else math.inf)
    return {
        "parent": (pq1, pmed, pq3),
        "change": (cq1, cmed, cq3),
        "wins": won,
        "pairs": len(parent),
        "claim": 10 * won >= 9 * len(parent) and gain > pq3 - pq1,
        "worse_than_bound": loss > bound,
    }


def metric_specs(spec):
    """{name: (higher_is_better, bound)} for the end-to-end metrics of a
    parsed BENCHMARK.json."""
    return {m["name"]: (m["better"] == "higher", float(m["bound"]))
            for m in spec["end_to_end"]}


def last_json_line(text):
    for line in reversed(text.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise ValueError("no result line")


def export(rev, into):
    """`git archive` of `rev` unpacked into the new directory `into` by
    `tar` (archive member names are repository paths)."""
    os.makedirs(into)
    archive = subprocess.Popen(["git", "-C", str(ROOT), "archive", "--format=tar", rev],
                               stdout=subprocess.PIPE)
    untar = subprocess.run(["tar", "-x", "-C", str(into)], stdin=archive.stdout)
    archive.stdout.close()
    if archive.wait() != 0 or untar.returncode != 0:
        raise RuntimeError(f"could not export {rev}")


def run_one(tree, workload, seed, seconds):
    """Metric values of one untraced run, or None when the run failed."""
    env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
    cmd = [sys.executable, "layerbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tree, env=env, capture_output=True, text=True)
    if proc.returncode != 0:
        print(f"  run failed in {tree}: {proc.stderr.strip()[-800:]}", file=sys.stderr)
        return None
    res = last_json_line(proc.stdout)
    return {k: v["value"] for k, v in res["metrics"].items()}


def fmt(v):
    return f"{v:,.0f}" if abs(v) >= 1000 else f"{v:.4g}"


def fmt_summary(q):
    q1, med, q3 = q
    return f"{fmt(med)} [{fmt(q1)}, {fmt(q3)}]"


def report(workload, runs, specs):
    """Print the verdict table of one workload."""
    pairs = [(p, c) for p, c in runs if p is not None and c is not None]
    print(f"\n{workload}: {len(pairs)} complete pairs of {len(runs)}")
    if not pairs:
        return
    print(f"  {'metric':<22} {'parent median [q1, q3]':>28} {'change median [q1, q3]':>28}"
          f"  wins   claim  bound")
    for name, (higher, bound) in specs.items():
        if name not in pairs[0][0]:
            continue
        v = verdict([p[name] for p, _ in pairs], [c[name] for _, c in pairs], higher, bound)
        print(f"  {name:<22} {fmt_summary(v['parent']):>28} {fmt_summary(v['change']):>28}"
              f"  {v['wins']:>2}/{v['pairs']:<2}  {'yes' if v['claim'] else 'no':<5}  "
              f"{'WORSE' if v['worse_than_bound'] else 'ok'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="directory or git revision")
    ap.add_argument("--change", required=True, help="directory or git revision")
    ap.add_argument("--workloads", required=True, help="comma-separated workload names")
    ap.add_argument("--first-seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, required=True)
    args = ap.parse_args()

    benchmark = json.loads((ROOT / "BENCHMARK.json").read_text())
    specs = metric_specs(benchmark)
    with tempfile.TemporaryDirectory(prefix="ab_pairs-") as tmp:
        trees = {}
        for side in ("parent", "change"):
            arg = getattr(args, side)
            if Path(arg).is_dir():
                trees[side] = str(Path(arg).resolve())
            else:
                trees[side] = str(Path(tmp) / side)
                export(arg, trees[side])
        for workload in args.workloads.split(","):
            runs = []
            for i in range(args.pairs):
                seed = args.first_seed + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                got = {}
                for side in order:
                    got[side] = run_one(trees[side], workload, seed, benchmark["run_seconds"])
                runs.append((got["parent"], got["change"]))
                print(f"{workload} seed {seed} ({order[0]} first): " + ", ".join(
                    f"{s} {fmt(got[s]['rows_per_s']) if got[s] else 'FAILED'} rows/s"
                    for s in ("parent", "change")), flush=True)
            report(workload, runs, specs)
    return 0


if __name__ == "__main__":
    sys.exit(main())
