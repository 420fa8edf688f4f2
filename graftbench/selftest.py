#!/usr/bin/env python3
"""Self-test of the benchmark's correctness gate.

Usage (from the repository root): python3 graftbench/selftest.py

1. The recorder's own checks (graftbench.Main --workload selftest): an op with
   a deliberately wrong expected value is counted as failed and never timed;
   so is a write whose read-back disagrees.
2. End to end: a short lineitem run with every third check forced to
   disagree (--inject-wrong 3) must still print its result line, report
   correct=false with failed > 0, and exit non-zero.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    jars = run.spark_jars()
    jar, _ = run.build(jars)
    work = os.path.join(run.WORK, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = run.java_cmd(jar, jars, work) + ["--workload", "selftest", "--seed", "0", "--seconds", "0",
                                           "--trace", "0", "--work", work]
    code, out = run.run_bounded(cmd, work, 120)
    shutil.rmtree(work, ignore_errors=True)
    print(out.strip())
    if code != 0:
        sys.exit("selftest: recorder checks failed")

    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "lineitem", "--seed", "7",
                        "--seconds", "2", "--trace", "0", "--inject-wrong", "3"],
                       cwd=ROOT, capture_output=True, text=True)
    last = json.loads(p.stdout.strip().splitlines()[-1])
    print(f"inject-wrong run: exit {p.returncode}, attempted {last['attempted']}, failed {last['failed']}, "
          f"correct {last['correct']}")
    if p.returncode == 0 or last["correct"] or last["failed"] < 1:
        sys.exit("selftest: a run with wrong expected values was not reported as failed")
    print("selftest ok")


if __name__ == "__main__":
    main()
