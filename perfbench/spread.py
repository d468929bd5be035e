#!/usr/bin/env python3
"""Check that the benchmark is steady: run every workload over a range of
seeds in two sets, and hold each end-to-end metric to its bound.

    python3 perfbench/spread.py --seeds 1-10

Run from the root of a checkout. For each workload, set and end-to-end
metric it prints the median and the quartile spread (Q3 - Q1 as a share of
the median, quartiles as Python's statistics.quantiles(n=4) gives them). It
fails when any spread exceeds the metric's bound, or when the two sets'
medians differ, either way, by more than the bound. Every run's result line
is kept in .bench_build/spread-results.jsonl.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed} failed (exit {p.returncode})")
    return json.loads(lines[-1])


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, (q3 - q1) / q2 if q2 else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    out = os.path.join(".bench_build", "spread-results.jsonl")
    os.makedirs(".bench_build", exist_ok=True)
    # sets[s][workload][metric] -> values over seeds
    sets = []
    for s in range(2):
        vals = {w: {m["name"]: [] for m in spec["end_to_end"]}
                for w in workloads}
        for w in workloads:
            for seed in seeds(args.seeds):
                res = run_once(w, seed, spec["run_seconds"])
                with open(out, "a") as fh:
                    fh.write(json.dumps({"set": s, "workload": w,
                                         "seed": seed, **res}) + "\n")
                for name, m in res["metrics"].items():
                    vals[w][name].append(m["value"])
                print(f"set {s} {w} seed {seed}: " + ", ".join(
                    f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                    flush=True)
        sets.append(vals)

    bad = []
    for w in workloads:
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            medians = []
            for s, vals in enumerate(sets):
                med, spr = spread(vals[w][name])
                medians.append(med)
                flag = ""
                if spr > bound:
                    flag = "  SPREAD OVER BOUND"
                    bad.append(f"{w} {name} set {s}")
                print(f"{w:8s} {name:12s} set {s}: median {med:.4g} "
                      f"spread {spr:.3f} (bound {bound}, "
                      f"a third {bound / 3:.3f}){flag}")
            a, b = medians
            drift = (b - a) / a
            flag = ""
            if abs(drift) > bound:
                flag = "  DRIFT OVER BOUND"
                bad.append(f"{w} {name} drift")
            print(f"{w:8s} {name:12s} second median differs by "
                  f"{drift:+.3f}{flag}")
    if bad:
        print("not steady: " + ", ".join(bad))
        sys.exit(1)
    print("steady")


if __name__ == "__main__":
    main()
