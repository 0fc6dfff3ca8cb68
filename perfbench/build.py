#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala` at the repository root) together
with the benchmark's own (`perfbench/src`) into `perfbench/.build/classes`, using
the Scala compiler and the Spark jars of the Spark installation (`$SPARK_HOME`, or
the one whose `spark-submit` is on PATH). A stamp over every source file skips the
compile when nothing changed.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / ".build"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("no Spark installation: set SPARK_HOME")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not jars.is_dir():
        raise BuildError(f"no jars directory under SPARK_HOME={home}")
    return jars


def sources() -> list:
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise BuildError(f"program sources not found at {program}")
    found = sorted(program.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not found:
        raise BuildError("no Scala sources")
    return found


def one(jars: Path, pattern: str) -> str:
    hits = sorted(glob.glob(str(jars / pattern)))
    if not hits:
        raise BuildError(f"{pattern} not found in {jars}")
    return hits[-1]


def build() -> str:
    """Compile when stale; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    compiler = [one(jars, f"scala-{n}-2.13.*.jar") for n in ("compiler", "library", "reflect")]
    stamp = hashlib.sha256()
    for f in srcs + [Path(c) for c in compiler]:
        stamp.update(str(f.relative_to(ROOT) if ROOT in f.parents else f).encode())
        stamp.update(f.read_bytes() if f.suffix == ".scala" else b"")
    stamp = stamp.hexdigest()
    classes, stamp_file = OUT / "classes", OUT / "stamp"
    classpath = f"{classes}{os.pathsep}{jars / '*'}"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classpath
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(f'"{s}"' for s in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", str(jars / "*"),
           "-d", str(tmp), f"@{argfile}"]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        raise BuildError("scalac failed:\n" + done.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
