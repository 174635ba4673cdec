#!/usr/bin/env python3
"""Steadiness check: two sets of benchmark runs of the same commit.

    python3 graftbench/steady.py [--runs 10] [--workloads a,b]

Run from the root of a graft checkout. For every workload, each of two sets
makes `--runs` untraced runs, each with its own seed. Per end-to-end metric
it reports the median and the spread (distance between the first and third
quartile, as a share of the median) of each set, and whether the two sets
agree within the metric's bound from BENCHMARK.json: both spreads within
the bound and the two medians apart by no more than the bound, in either
direction. The share of failed operations must be the same in both sets.
Exits 1 if any metric does not hold. Raw results go to
.bench_build/graftbench/steady.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETS = 2
FIRST_SEED = 1000


def one_run(workload, seed, seconds):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} failed with code {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["elapsed_s"] = time.monotonic() - t0
    return res


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10, help="runs per set and workload")
    ap.add_argument("--workloads", default=None, help="comma-separated; default: all")
    a = ap.parse_args()

    spec = json.load(open("BENCHMARK.json"))
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    seed = FIRST_SEED
    sets = {w: [[] for _ in range(SETS)] for w in names}
    for s in range(SETS):
        for w in names:
            for _ in range(a.runs):
                r = one_run(w, seed, spec["run_seconds"])
                seed += 1
                sets[w][s].append(r)
                print(f"set {s + 1} {w} seed {seed - 1}: {r['elapsed_s']:.1f} s, correct {r['correct']}, "
                      f"failed {r['failed']}/{r['attempted']}", flush=True)

    ok = True
    report = {}
    for w in names:
        print(f"\n{w}")
        print(f"  {'metric':14s} {'median 1':>12s} {'spread 1':>9s} {'median 2':>12s} "
              f"{'spread 2':>9s} {'shift':>7s} {'bound':>6s}  verdict")
        for name, m in bounds.items():
            meds, sprs = [], []
            for runs in sets[w]:
                vals = [r["metrics"][name]["value"] for r in runs]
                meds.append(statistics.median(vals))
                sprs.append(spread(vals))
            shift = (meds[1] - meds[0]) / meds[0]
            held = max(sprs) <= m["bound"] and abs(shift) <= m["bound"]
            ok &= held
            report.setdefault(w, {})[name] = {"medians": meds, "spreads": sprs, "shift": shift,
                                              "bound": m["bound"], "held": held}
            print(f"  {name:14s} {meds[0]:12.4g} {sprs[0]:9.3f} {meds[1]:12.4g} {sprs[1]:9.3f} "
                  f"{shift:7.3f} {m['bound']:6.2f}  {'ok' if held else 'NOT HELD'}")
        shares = [sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs)
                  for runs in sets[w]]
        same = len(set(shares)) == 1
        ok &= same and all(r["correct"] for runs in sets[w] for r in runs)
        print(f"  failed share per set: {shares} ({'same' if same else 'DIFFERENT'}); "
              f"all correct: {all(r['correct'] for runs in sets[w] for r in runs)}")
        report[w]["failed_share"] = shares
        report[w]["elapsed_s"] = [r["elapsed_s"] for runs in sets[w] for r in runs]

    os.makedirs(os.path.join(".bench_build", "graftbench"), exist_ok=True)
    with open(os.path.join(".bench_build", "graftbench", "steady.json"), "w") as f:
        json.dump({"report": report, "runs": sets}, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
