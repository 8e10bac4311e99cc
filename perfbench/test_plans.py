#!/usr/bin/env python3
"""The benchmark's own test: the plan-retention check.

    python3 perfbench/test_plans.py

Runs one pass of every workload and fails if the `noop`-sink plan of a
timed call lost the operator under test: align_read in fromSam and the
insertion table, the k-mer aggregate, the per-position aggregates and the
consensus window, the reference broadcast joins of the Hamming distance
and the mutation profile, the quality filter and percentiles, and the
record decode of the FASTQ and BAM reads (see `PlanCheck.required`).
"""
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

import build  # noqa: E402
from run import ROOT, WORK, java_cmd  # noqa: E402


def main():
    classpath = build.build()
    work = WORK / "work" / "plancheck"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cmd = java_cmd(classpath, work, "perfbench.PlanCheck", "--work", str(work))
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=300)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(r.stdout, end="")
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
