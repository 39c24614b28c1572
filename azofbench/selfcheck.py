#!/usr/bin/env python3
"""Proves the verifier is not vacuous: runs every workload with one
deliberately wrong answer fed to it and asserts the run reports it.

    python3 azofbench/selfcheck.py [--seed N]

Exits 0 when every workload reported failed > 0 and correct = false.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    ok = True
    for w in WORKLOADS:
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
             "--seed", str(a.seed), "--seconds", "1", "--trace", "0",
             "--inject-wrong"], capture_output=True, text=True)
        res = json.loads(r.stdout.strip().split("\n")[-1]) if r.returncode == 0 else None
        frac = res["failed"] / res["attempted"] if res else None
        good = res is not None and frac > 0 and not res["correct"]
        print(f"{w}: failed_frac={frac} correct={res and res['correct']} -> "
              f"{'refused' if good else 'NOT REFUSED'}")
        ok &= good
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
