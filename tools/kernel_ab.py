"""Kernel A/B: bit-identity hashes and per-call label times of two trees.

    python3 tools/kernel_ab.py --parent HEAD~1 --change HEAD [--rounds 5]

Each side is a source tree: a directory is used as it is, anything else is
a git revision exported as tools/ab_pairs.py does. Each tree is built by
its own layerbench/build.py (into the tree's .bench_build), then
tools/KernelAb.scala of this checkout is compiled against that tree's
classes with the Scala compiler on its classpath and run under the
benchmark's JVM flags (C1, 2 GB heap, ParallelGC).

It prints each side's label and signedDistance probe hashes over the fixed
corpus described in KernelAb.scala, then runs --rounds alternating rounds
(the parent first on even rounds) of per-call label timing and prints, per
vertex-count group, each side's median over the rounds [first quartile,
third quartile] and change/parent. A group whose two quartile ranges
overlap is marked "unresolved": its rounds spread too widely to tell the
sides apart. Each group "<g>+build" times the same calls with the polygon
built from raw coordinate arrays inside the timed call, so work a change
moves between polygon construction and the label call shows there and not
as a kernel gain or loss. Exits 1 when the hashes differ, 2 when a side fails to build
or run. Standard library only.
"""
import argparse
import os
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
from ab_pairs import export, last_json_line  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
DRIVER = ROOT / "tools" / "KernelAb.scala"
# as layerbench/run.py runs the benchmark JVM
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData"]
SIDES = ("parent", "change")


class SideError(Exception):
    pass


def checked(cmd, cwd=None, env=None):
    proc = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True)
    if proc.returncode != 0:
        raise SideError(f"{' '.join(map(str, cmd[:4]))} ... failed:\n{(proc.stdout + proc.stderr)[-3000:]}")
    return proc.stdout


def prepare_side(arg, tmp, name):
    """A function mode -> parsed JSON line of KernelAb for one side."""
    if Path(arg).is_dir():
        tree = Path(arg).resolve()
    else:
        tree = Path(tmp) / name
        export(arg, tree)
    env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
    classpath = checked([sys.executable, "layerbench/build.py"], cwd=tree, env=env).strip().splitlines()[-1]
    scala = [p for p in classpath.split(os.pathsep)
             if Path(p).name.startswith(("scala-library-", "scala-compiler-", "scala-reflect-"))]
    out = Path(tmp) / f"{name}-driver"
    out.mkdir()
    checked(["java", "-Xss8m", "-cp", os.pathsep.join(scala), "scala.tools.nsc.Main", "-nowarn",
             "-d", str(out), "-cp", classpath, str(DRIVER)])

    def run(mode):
        stdout = checked(["java"] + JVM_FLAGS + ["-cp", os.pathsep.join([str(out), classpath]),
                                                 "KernelAb", mode])
        return last_json_line(stdout)
    return run


def fmt(v):
    return f"{v:,.1f}" if v >= 100 else f"{v:.3f}"


def quartiles(xs):
    """(first quartile, median, third quartile) of the per-round times."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main(argv=None, prepare=prepare_side):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="directory or git revision")
    ap.add_argument("--change", required=True, help="directory or git revision")
    ap.add_argument("--rounds", type=int, default=5, help="alternating timing rounds (default 5)")
    args = ap.parse_args(argv)
    if args.rounds < 1:
        ap.error("--rounds must be at least 1")

    with tempfile.TemporaryDirectory(prefix="kernel_ab-") as tmp:
        try:
            run = {s: prepare(getattr(args, s), tmp, s) for s in SIDES}
            hashes = {s: run[s]("hash") for s in SIDES}
            for s in SIDES:
                h = hashes[s]
                print(f"{s:<7} labels {h['labels']:,} hash {h['label_hash']}  "
                      f"probes {h['probes']:,} hash {h['probe_hash']}", flush=True)
            same = hashes["parent"] == hashes["change"]
            print("hashes: " + ("equal" if same else "DIFFER"), flush=True)

            times = {s: [] for s in SIDES}
            for i in range(args.rounds):
                for s in (SIDES if i % 2 == 0 else SIDES[::-1]):
                    times[s].append(run[s]("time"))
        except SideError as e:
            print(f"kernel_ab: {e}", file=sys.stderr)
            return 2

    groups = [g for g in times["parent"][0] if g != "sink"]
    print(f"\nper-call label time (us), median of {args.rounds} alternating rounds [q1, q3]"
          " (+build: polygon built inside the call):")
    print(f"  {'vertices':<13} {'parent':>26} {'change':>26}  change/parent")
    for g in groups:
        q = {s: quartiles([t[g] for t in times[s]]) for s in SIDES}
        cells = [f"{fmt(q[s][1])} [{fmt(q[s][0])}, {fmt(q[s][2])}]" for s in SIDES]
        overlap = q["parent"][0] <= q["change"][2] and q["change"][0] <= q["parent"][2]
        print(f"  {g:<13} {cells[0]:>26} {cells[1]:>26}  {q['change'][1] / q['parent'][1]:.3f}"
              + ("  unresolved" if overlap else ""))
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main())
