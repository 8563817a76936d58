#!/usr/bin/env python3
"""Repeat-runner: run one workload several times, each with another seed,
and print every metric's median, IQR (as a share of the median), min and
max, with the end-to-end bound from BENCHMARK.json for comparison.

    python3 cosmobench/repeat.py --workload registry_interactive --runs 10 \
        [--seed0 1] [--seconds 12] [--trace 0] [--json out.json] [--compare set1.json]

The IQR is the distance between the first and third quartile as
`statistics.quantiles(values, n=4)` gives them. A spread above a third of
the metric's bound is flagged, `setup_s` included. With `--compare`, each
median is also set against the median of an earlier set (a `--json`
file of the same workload): a median worse by more than the bound is
flagged, and the exit code is 1.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json")
    ap.add_argument("--compare", help="--json output of an earlier set of the same workload")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    lower = {m["name"]: m["better"] == "lower" for m in bench["end_to_end"]}
    before = {}
    if args.compare:
        with open(args.compare) as fh:
            before = json.load(fh)["summary"]

    values, results = {}, []
    for i in range(args.runs):
        seed = args.seed0 + i
        t0 = time.monotonic()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", str(args.trace)],
                           cwd=ROOT, capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            sys.stderr.write(r.stderr[-3000:])
            sys.exit(f"run {i} (seed {seed}) failed with code {r.returncode}")
        res = json.loads(lines[-1])
        results.append(res)
        print(f"seed {seed} ({time.monotonic() - t0:.0f} s): correct={res['correct']} "
              f"attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])

    print(f"\n{'metric':34} {'median':>12} {'iqr/med':>8} {'min':>12} {'max':>12} {'bound':>6}"
          + (f" {'vs set1':>8}" if before else ""))
    summary, shifted = {}, []
    for k, xs in values.items():
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
        spread = (q[2] - q[0]) / med if med else float("nan")
        summary[k] = {"median": med, "iqr_frac": spread, "min": min(xs), "max": max(xs)}
        b = bounds.get(k)
        flag = "" if b is None or spread <= b / 3 else "  > bound/3"
        if b is not None and spread > b:
            flag = "  > bound"
        shift = ""
        if k in before and before[k]["median"]:
            # share by which this set's median is worse than the earlier one's
            worse = (med / before[k]["median"] - 1) * (1 if lower.get(k, True) else -1)
            shift = f" {worse:+8.3f}"
            if b is not None and worse > b:
                shifted.append(k)
                flag += "  median worse than set1 by > bound"
        print(f"{k:34} {med:12.5g} {spread:8.3f} {min(xs):12.5g} {max(xs):12.5g} "
              f"{'' if b is None else b:>6}{shift}{flag}")
    ok = all(r["correct"] for r in results)
    print(f"\nall correct: {ok}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump({"workload": args.workload, "runs": results, "summary": summary}, fh,
                      indent=1)
    sys.exit(1 if shifted or not ok else 0)


if __name__ == "__main__":
    main()
