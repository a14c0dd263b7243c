"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (layerbench/scala) with the Scala compiler that ships
in the Spark installation's jar directory, into a content-addressed class
directory.

    python3 layerbench/build.py            # prints the runtime classpath

The build directory is $CARGO_TARGET_DIR when set, else .bench_build, both
relative to the repository root. A build whose sources are unchanged is
reused.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HARNESS = ROOT / "layerbench" / "scala"
PROGRAM = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"
SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def spark_jars() -> list:
    """The Spark installation's jars: $SPARK_HOME/jars, else the jar
    directory the sbt build names (`unmanagedBase` in build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        jar_dir = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
        if not m:
            raise BuildError("SPARK_HOME is unset and build.sbt names no unmanagedBase")
        jar_dir = Path(m.group(1))
    jars = sorted(jar_dir.glob("*.jar"))
    if not jars:
        raise BuildError(f"no Spark jars under {jar_dir}")
    return jars


def sources() -> list:
    program = sorted(PROGRAM.rglob("*.scala")) if PROGRAM.is_dir() else []
    if not program:
        raise BuildError(f"no program sources under {PROGRAM}")
    return program + sorted(HARNESS.rglob("*.scala"))


def stamp(files: list) -> str:
    h = hashlib.sha256(SCALA_VERSION.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build() -> list:
    """Compile if needed; return the runtime classpath entries."""
    srcs = sources()
    jars = spark_jars()
    out = build_dir() / "layerbench" / f"classes-{stamp(srcs)}"
    if not (out / ".ok").exists():
        tmp = out.with_name(out.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        compiler = [j for j in jars if j.name.startswith(("scala-library-", "scala-compiler-", "scala-reflect-"))]
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(map(str, compiler)),
               "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
               "-cp", os.pathsep.join(map(str, jars))] + [str(s) for s in srcs]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if proc.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
        (tmp / ".ok").write_text("ok\n")
        tmp.rename(out)
        for old in out.parent.glob("classes-*"):
            if old != out:
                shutil.rmtree(old, ignore_errors=True)
    return [str(out), str(RESOURCES)] + [str(j) for j in jars]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
