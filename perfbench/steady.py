#!/usr/bin/env python3
"""Steadiness check: run the benchmark in sets of runs on one commit and
compare every end-to-end metric's spread and drift with its bound.

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--sets 2]
                                [--first-seed 1]

Set k runs seeds first_seed + k*runs ... + runs-1, one run per seed. For
each workload and metric it prints the median and quartiles of each set,
the spread (Q3 - Q1) / median, and the drift of the last set's median
from the first's in the metric's worse direction, each against the bound
in BENCHMARK.json. A metric fails when its spread exceeds the bound
(set-up time is exempt) or its drift does. Exits 1 on any failure.
Results are also written to .bench_build/steady.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"run failed: {' '.join(cmd)} (rc={p.returncode})")
    return json.loads(lines[-1])


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    metrics = bench["end_to_end"]
    workloads = args.workloads.split(",")
    results = {}
    ok = True
    # set by set, so an interrupted check still has whole sets of every workload
    sets = {wl: [] for wl in workloads}
    for k in range(args.sets):
        for wl in workloads:
            runs = []
            for i in range(args.runs):
                seed = args.first_seed + k * args.runs + i
                r = one_run(wl, seed, bench["run_seconds"])
                if not r["correct"]:
                    print(f"{wl} seed {seed}: incorrect run ({r['failed']} failed)")
                    ok = False
                runs.append(r)
                print(f"{wl} set {k} seed {seed}: " + ", ".join(
                    f"{n}={v['value']:.4g}" for n, v in r["metrics"].items()), flush=True)
            sets[wl].append(runs)
    for wl in workloads:
        results[wl] = {}
        print(f"\n{wl}: metric, per set median [Q1 Q3] spread, drift vs bound")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            stats = [quartiles([r["metrics"][name]["value"] for r in runs])
                     for runs in sets[wl]]
            spreads = [(q3 - q1) / med for q1, med, q3 in stats]
            first, last = stats[0][1], stats[-1][1]
            sign = 1 if m["better"] == "lower" else -1
            drift = sign * (last - first) / first
            bad = drift > bound or (name != "setup_s" and max(spreads) > bound)
            ok &= not bad
            results[wl][name] = {"sets": stats, "spreads": spreads, "drift": drift,
                                 "bound": bound, "ok": not bad}
            cells = "  ".join(f"{med:.4g} [{q1:.4g} {q3:.4g}] {sp:.3f}"
                              for (q1, med, q3), sp in zip(stats, spreads))
            print(f"  {name:18s} {cells}  drift {drift:+.3f}  bound {bound}"
                  f"  {'FAIL' if bad else 'ok'}")
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", "steady.json"), "w") as f:
        json.dump(results, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
