#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks: a deliberately
corrupted pin must make a run report failures and `correct: false`.

    python3 cosmobench/selftest.py

Corrupts one registry query's pinned hash (registry_interactive) and one
monitor's closed-form row count (monthly_cadence). Exits 0 when both are
caught, 1 otherwise.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CASES = [("registry_interactive", "t_fingerprint"), ("monthly_cadence", "nuv_osm_shift1")]


def main():
    caught = 0
    for workload, target in CASES:
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", "1", "--seconds", "1", "--trace", "0",
                            "--corrupt-pin", target],
                           cwd=os.path.dirname(HERE), capture_output=True, text=True)
        res = json.loads(r.stdout.strip().splitlines()[-1])
        ok = r.returncode == 0 and not res["correct"] and res["failed"] > 0
        caught += ok
        print(f"{workload}: corrupted {target} -> correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}: {'caught' if ok else 'MISSED'}")
    sys.exit(0 if caught == len(CASES) else 1)


if __name__ == "__main__":
    main()
