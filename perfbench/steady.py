#!/usr/bin/env python3
"""Steadiness check: run workloads many times and report each metric's spread.

    python3 perfbench/steady.py --runs 10 [--workloads serve_point,batch_cold] [--first-seed 1]

Runs `perfbench/run.py` once per seed (first-seed, first-seed + 1, ...) for
every workload, then prints, per workload and end-to-end metric, the median,
the quartiles (statistics.quantiles, n=4), the quartile spread as a share of
the median, and the metric's bound from BENCHMARK.json; plus the share of
failed operations, which must be identical in every run. Exits non-zero if a
spread exceeds its bound, a run fails or is incorrect, or the failed share
differs between runs.
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
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for w in names:
        runs = []
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.monotonic()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            wall = time.monotonic() - t0
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}: {p.stderr.strip()[-300:]}")
                ok = False
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            r["wall_s"], r["seed"] = wall, seed
            runs.append(r)
            print(f"{w} seed {seed}: {wall:.0f}s correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        if len(runs) < 4:
            ok = False
            continue
        shares = {r["failed"] / r["attempted"] for r in runs}
        if len(shares) > 1 or not all(r["correct"] for r in runs):
            ok = False
        print(f"== {w}: {len(runs)} runs, mean wall {statistics.mean(r['wall_s'] for r in runs):.1f}s, "
              f"failed share {sorted(shares)}")
        for m, bound in bounds.items():
            vals = [r["metrics"][m]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            flag = "" if spread <= bound else "  OVER BOUND"
            if flag:
                ok = False
            print(f"   {m:18s} median {med:10.4g}  q1 {q1:10.4g}  q3 {q3:10.4g}  "
                  f"spread {spread:6.3f}  bound {bound}{flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
