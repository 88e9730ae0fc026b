#!/usr/bin/env python3
"""Tests of the benchmark itself (no Spark session): the input generator
is deterministic in its seed, and every workload's output check accepts a
correct output and flags a corrupted one.

    python3 perfbench/selftest.py
"""
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

if __name__ == "__main__":
    try:
        classpath = build.ensure_built()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
    work = os.path.join(build.build_dir(), "selftest")
    shutil.rmtree(work, ignore_errors=True)
    try:
        code = subprocess.run(["java", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(classpath),
                               "perfbench.Main", "selftest", "--work", work]).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)
