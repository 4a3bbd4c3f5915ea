#!/usr/bin/env python3
"""Steadiness check: runs each workload in two sets of runs, each run with
its own seed, and prints per end-to-end metric the median, the quartiles,
the spread (quartile distance over median) and the gap between the two
sets' medians, next to the bound in BENCHMARK.json, plus the share of
failed operations in each set.

    python3 perfbench/steady.py --runs 10 --sets 2
    python3 perfbench/steady.py --workload geotag --runs 5 --sets 1

Run from the repository root. Each run's result line is appended to
.bench_build/steady.jsonl so a long series can be read back.
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


def one_run(cfg, workload, seed):
    cmd = list(cfg["command"]) + ["--workload", workload, "--seed", str(seed),
                                  "--seconds", str(cfg["run_seconds"]), "--trace", "0"]
    t0 = time.time()
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    if r.returncode != 0:
        sys.stderr.write(r.stdout + r.stderr)
        raise SystemExit(f"run failed: {' '.join(cmd)}")
    res = json.loads(r.stdout.strip().split("\n")[-1])
    res.update(workload=workload, seed=seed, wall_s=round(wall, 1))
    with open(os.path.join(ROOT, ".bench_build", "steady.jsonl"), "a") as fh:
        fh.write(json.dumps(res) + "\n")
    return res


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        cfg = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    workloads = args.workload or [w["name"] for w in cfg["workloads"]]
    seed = args.first_seed
    worst = 0.0
    for w in workloads:
        sets = []
        for _ in range(args.sets):
            runs = []
            for _ in range(args.runs):
                runs.append(one_run(cfg, w, seed))
                r = runs[-1]
                print(f"{w} seed {seed}: wall {r['wall_s']} s correct {r['correct']} "
                      f"failed {r['failed']}/{r['attempted']} " +
                      " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      flush=True)
                seed += 1
            sets.append(runs)
        print(f"\n== {w}")
        for i, runs in enumerate(sets):
            shares = sorted({r["failed"] / r["attempted"] for r in runs})
            walls = [r["wall_s"] for r in runs]
            print(f"  set {i + 1}: failed share {shares}, all correct: "
                  f"{all(r['correct'] for r in runs)}, wall median {statistics.median(walls):.1f} s")
        for m, bound in bounds.items():
            meds = []
            for i, runs in enumerate(sets):
                vals = [r["metrics"][m]["value"] for r in runs]
                q1, q2, q3, s = spread(vals) if len(vals) >= 2 else (vals[0],) * 3 + (0.0,)
                meds.append(q2)
                note = "" if m == "setup_s" else (" OVER a third of the bound" if s > bound / 3 else "")
                if m != "setup_s":
                    worst = max(worst, s / bound)
                print(f"  {m:14s} set {i + 1}: median {q2:.4g} q1 {q1:.4g} q3 {q3:.4g} "
                      f"spread {s * 100:.1f}% (bound {bound * 100:.0f}%){note}")
            if len(meds) > 1:
                gap = max(meds) / min(meds) - 1
                print(f"  {m:14s} gap between set medians {gap * 100:.1f}%"
                      + (" OVER the bound" if gap > bound else ""))
    print(f"\nlargest spread as a share of its bound: {worst:.2f}")


if __name__ == "__main__":
    main()
