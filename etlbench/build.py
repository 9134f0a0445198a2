#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources (src/main/scala)
together with the benchmark's own (etlbench/src) into .bench_build/classes.

The Scala compiler and the Spark runtime both come from the Spark
distribution's jars directory ($SPARK_HOME/jars, or the one beside
`spark-submit` on PATH), so the build needs no dependency resolution.
A stamp over every source file skips the compile when nothing changed.

    python3 etlbench/build.py        # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"


def spark_jars() -> Path:
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if any(c.glob("scala-compiler-*.jar")) and any(c.glob("spark-sql_*.jar")):
            return c
    raise SystemExit("etlbench: no Spark jars directory with a Scala compiler "
                     "(set SPARK_HOME)")


def sources() -> list:
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise SystemExit("etlbench: engine sources src/main/scala not found")
    return engine + sorted((BENCH / "src").glob("*.scala"))


def build() -> tuple:
    """Compile if stale; returns (classes dir, Spark jars dir)."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256(str(jars).encode())
    for s in srcs:
        digest.update(str(s.relative_to(ROOT)).encode())
        digest.update(s.read_bytes())
    stamp = digest.hexdigest()
    stamp_file = CLASSES / ".stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return CLASSES, jars
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = str(jars / "*")
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, "@" + str(argfile)]
    print(f"etlbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    stamp_file.write_text(stamp)
    return CLASSES, jars


if __name__ == "__main__":
    print(build()[0])
