#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the benchmark if stale, then
runs one workload in a fresh JVM and passes its output through.

    python3 etlbench/run.py --workload import_upsert --seed 1 --seconds 10 --trace 0

Workloads: import_upsert, import_nested_media, export_flatten. The last
stdout line is one JSON object with `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with --trace 0, per-layer with --trace 1).
`--selftest` runs the benchmark's own checks at sf 0.001 instead.
"""
import argparse
import os
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # write nothing beside the sources
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

# Spark 4 on JDK 17 needs these outside spark-submit (as build.sbt sets them)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# a run must end well inside three minutes, set-up included
RUN_TIMEOUT_S = 170


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    try:
        classes, jars = build.build()
    except (subprocess.CalledProcessError, SystemExit) as e:
        print(f"etlbench: build failed: {e}", file=sys.stderr)
        return 2
    tmp = build.OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = ["java", "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData", *ADD_OPENS,
            f"-Djava.io.tmpdir={tmp}", "-cp", f"{classes}{os.pathsep}{jars / '*'}"]
    if a.selftest:
        cmd = java + ["etlbench.SelfTest", "--root", str(build.OUT)]
    else:
        cmd = java + ["etlbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", a.trace, "--root", str(build.OUT)]
    proc = subprocess.Popen(cmd, cwd=build.ROOT)

    def stop(signum, _frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("etlbench: run timed out", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
