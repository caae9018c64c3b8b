#!/usr/bin/env python3
"""Test of the benchmark's input generator.

    python3 perfbench/test_generator.py [--seed N]

Run from the root of a checkout. Builds the benchmark like run.py does,
then generates every workload's inputs twice with seed N and once with
seed N+1: the first two must be byte-identical, the third different.
Exit code 0 when that holds for all workloads.
"""
import argparse
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    root = os.getcwd()
    classpath = run.build(root)
    work = os.path.join(root, run.BUILD_DIR, "work", f"gencheck-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        code, _, _ = run.run_group(
            run.java_cmd(classpath, work, "perfbench.GenCheck", ["--work", work, "--seed", str(a.seed)]),
            run.RUN_TIMEOUT_S, cwd=work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("generator test:", "ok" if code == 0 else "FAILED")
    sys.exit(0 if code == 0 else 1)


if __name__ == "__main__":
    main()
