#!/usr/bin/env python3
"""Steadiness check of the benchmark, run from the root of a checkout.

Runs every workload of BENCHMARK.json (or those named) in two sets of
--runs runs, each run with its own seed, and prints for each end-to-end
metric the spread of each set (the distance between the first and the
third quartile as a share of the median) and the drift between the two
sets' medians, both against the metric's bound. It exits 1 unless every
spread and every drift is within its bound.

    python3 perfbench/steadiness.py --runs 10
    python3 perfbench/steadiness.py --runs 5 --workloads star_sql
"""
import argparse
import json
import statistics
import subprocess
import sys


def spread(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def run_once(bench, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", "0"]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"{' '.join(cmd)} exited {r.returncode}:\n{r.stderr[-2000:]}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        sys.exit(f"{workload} seed {seed}: outputs not correct: {res}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workloads", nargs="*")
    a = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = a.workloads or [w["name"] for w in bench["workloads"]]
    ok = True
    seed = 1000
    for w in names:
        sets = []
        for _ in range(2):
            runs = []
            for _ in range(a.runs):
                runs.append(run_once(bench, w, seed))
                print(f"{w} seed {seed}: " + ", ".join(
                    f"{k}={v:.4g}" for k, v in runs[-1].items()),
                    file=sys.stderr, flush=True)
                seed += 1
            sets.append(runs)
        print(f"\n{w}: 2 sets of {a.runs} runs")
        print(f"  {'metric':<14} {'median1':>10} {'spread1':>8} "
              f"{'median2':>10} {'spread2':>8} {'drift':>7} {'bound':>6}  verdict")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [[r[name] for r in runs] for runs in sets]
            meds = [statistics.median(v) for v in vals]
            sps = [spread(v) for v in vals]
            drift = (meds[1] - meds[0]) / meds[0]
            good = max(sps) <= bound and abs(drift) <= bound
            ok &= good
            note = "ok" if good else "OUT OF BOUND"
            if good and max(sps) >= bound / 3:
                note = "ok, spread above a third of the bound"
            print(f"  {name:<14} {meds[0]:>10.4g} {sps[0]:>8.3f} "
                  f"{meds[1]:>10.4g} {sps[1]:>8.3f} {drift:>7.3f} "
                  f"{bound:>6.3f}  {note}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
