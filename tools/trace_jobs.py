"""Where the time of each span of a layerbench trace went.

    python3 tools/trace_jobs.py .bench_build/layerbench/runs/<run>.trace.jsonl \
        [--name pipeline.runImagePipeline]

A trace (`layerbench/run.py ... --trace 1`) holds one JSON object per span:
its name, id, parent, start and end (epoch ms), and the Spark tasks of the
jobs it submitted, each as `[launch offset, wall, run, cpu]` ms in
`task_offsets_ms` (the offset is from the span's start). For every span,
over the span and the spans nested in it, this prints:

- wall ms, Spark jobs and tasks;
- `first_task_ms`: the offset of the first task launch (empty if none);
- `run_ms` and `cpu_ms`: the tasks' summed run and CPU time;
- `offcpu_ms`: `run_ms - cpu_ms`, the tasks' time off the CPU (blocked on
  I/O, locks or a spawned process, or waiting for a core);
- `driver_only_ms`: the span's time with no task running.

`--name` keeps only spans of that name; when several spans share a name,
one more line gives each column's median over them. Standard library only.
"""
import argparse
import json
import statistics
import sys

COLUMNS = ("wall_ms", "jobs", "tasks", "first_task_ms", "run_ms", "cpu_ms",
           "offcpu_ms", "driver_only_ms")


def load(lines):
    """The spans of a trace, one dict per non-empty JSON line."""
    return [json.loads(line) for line in lines if line.strip()]


def covered(intervals):
    """Total length of the union of [start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def subtrees(spans):
    """Span id -> the spans of its subtree (the span itself first)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        tree, todo = [], [s]
        while todo:
            t = todo.pop()
            tree.append(t)
            todo.extend(children.get(t["id"], []))
        out[s["id"]] = tree
    return out


def breakdown(span, tree):
    """The columns of one span over its subtree. Task intervals are taken
    relative to `span`'s start and clipped to its wall time."""
    start, wall = span["start_ms"], span["end_ms"] - span["start_ms"]
    tasks = [(t["start_ms"] - start + off, w, run, cpu)
             for t in tree for off, w, run, cpu in t.get("task_offsets_ms", [])]
    busy = covered([(max(0, off), min(wall, off + w)) for off, w, _, _ in tasks
                    if off + w > 0 and off < wall])
    run_ms = sum(run for _, _, run, _ in tasks)
    cpu_ms = sum(cpu for _, _, _, cpu in tasks)
    return {
        "wall_ms": wall,
        "jobs": sum(t.get("spark_jobs", 0) for t in tree),
        "tasks": len(tasks),
        "first_task_ms": min((off for off, _, _, _ in tasks), default=None),
        "run_ms": run_ms,
        "cpu_ms": cpu_ms,
        "offcpu_ms": run_ms - cpu_ms,
        "driver_only_ms": wall - busy,
    }


def median(xs):
    return statistics.median(xs) if xs else None


def fmt(v):
    if v is None:
        return ""
    if isinstance(v, float) and not v.is_integer():
        return f"{v:.1f}"
    return str(int(v))


def table(spans, name=None):
    """Lines of the report: a header, one line per span (filtered by
    `name`), and a median line per name shared by several spans."""
    trees = subtrees(spans)
    rows = [(s, breakdown(s, trees[s["id"]])) for s in spans
            if name is None or s["name"] == name]
    out = ["\t".join(("id", "name") + COLUMNS)]
    for s, b in rows:
        out.append("\t".join([str(s["id"]), s["name"]] + [fmt(b[c]) for c in COLUMNS]))
    by_name = {}
    for s, b in rows:
        by_name.setdefault(s["name"], []).append(b)
    for n, bs in by_name.items():
        if len(bs) > 1:
            meds = [median([b[c] for b in bs if b[c] is not None]) for c in COLUMNS]
            out.append("\t".join([f"median({len(bs)})", n] + [fmt(m) for m in meds]))
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("trace", help="a layerbench *.trace.jsonl")
    ap.add_argument("--name", help="only spans of this name")
    args = ap.parse_args(argv)
    with open(args.trace, encoding="utf-8") as f:
        spans = load(f)
    print("\n".join(table(spans, args.name)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
