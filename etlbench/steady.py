#!/usr/bin/env python3
"""Steadiness check: runs one workload as two sets of runs, each run with
its own seed, and prints per end-to-end metric and per set the median and
quartiles and the spread (quartile distance / median). It prints `steady`
and exits 0 only if every spread, `setup_s`'s too, is within the metric's
bound in BENCHMARK.json, the two medians differ by at most that bound in
either direction, and every run failed the same share of its operations.

    python3 etlbench/steady.py --workload etl_tail --runs 10
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run_once(workload, seed, seconds):
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload",
                        workload, "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed: {workload} seed {seed}")
    return json.loads(p.stdout.strip().split("\n")[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    if a.runs < 2:
        raise SystemExit("steady: quartiles need at least 2 runs per set")
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sets, seed = [], a.first_seed
    for s in range(2):
        results = []
        for _ in range(a.runs):
            r = run_once(a.workload, seed, bench["run_seconds"])
            print(f"set {s + 1} seed {seed}: failed {r['failed']}/{r['attempted']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
            results.append(r)
            seed += 1
        sets.append(results)
    print(f"\n{a.workload}: 2 sets x {a.runs} runs, run_seconds="
          f"{bench['run_seconds']}")
    print(f"{'metric':14s} {'set':>3s} {'q1':>10s} {'median':>10s} {'q3':>10s} "
          f"{'spread':>7s} {'bound':>6s}  agree")
    ok = True
    for name, bound in bounds.items():
        meds = []
        for i, results in enumerate(sets):
            vals = [r["metrics"][name]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            meds.append(med)
            spread = (q3 - q1) / med
            flag = "" if spread <= bound else " SPREAD>BOUND"
            ok &= not flag
            print(f"{name:14s} {i + 1:3d} {q1:10.4g} {med:10.4g} {q3:10.4g} "
                  f"{spread:7.3f} {bound:6.2f}{flag}")
        # either direction: a second set far faster than the first is as
        # much a disagreement as one far slower
        diff = meds[1] / meds[0] - 1
        agree = abs(diff) <= bound
        ok &= agree
        print(f"{'':14s} second vs first median: {diff:+.3f} -> "
              f"{'yes' if agree else 'NO'}")
    shares = {r["failed"] / r["attempted"] for results in sets for r in results}
    print(f"failed share per run: {sorted(shares)}")
    ok &= len(shares) == 1
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
