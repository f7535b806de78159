#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py

Runs the `selftest` workload of workloads.json (a working query, one that
throws and one that returns a wrong result) untraced and traced, and
checks that:
  - both broken queries count as failed, never as fast successes, and
    the run is reported incorrect;
  - every printed metric name and unit is declared in BENCHMARK.json, and
    every declared metric of the mode is printed;
  - in the traced run, operators + plans + execution account for each
    query's wall within SPLIT_TOLERANCE.
Exits 1 on the first failed check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPLIT_TOLERANCE = 0.02
BROKEN = ("selftest_throws", "selftest_wrong")


def check(cond, msg):
    print(("ok    " if cond else "FAIL  ") + msg)
    if not cond:
        sys.exit(1)


def run(trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "selftest",
           "--seed", "1", "--seconds", "2", "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    check(p.returncode == 0, f"run.py --trace {trace} exits 0")
    raw_file = os.path.join(ROOT, ".bench_build", "runs", f"selftest_seed1_trace{trace}.json")
    return json.loads(p.stdout.strip().splitlines()[-1]), json.load(open(raw_file))


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
        out, raw = run(trace)
        comps = raw["completions"]
        broken = [c for c in comps if c["query"] in BROKEN]
        good = [c for c in comps if c["query"] not in BROKEN]
        check(len(broken) >= 2 and out["failed"] >= len(broken),
              f"trace {trace}: {len(broken)} broken executions all count as failed "
              f"(failed={out['failed']})")
        check(all(c["ok"] for c in good), f"trace {trace}: the working query succeeds")
        check(out["correct"] is False, f"trace {trace}: the run is reported incorrect")
        units = {m["name"]: m["unit"] for m in declared}
        printed = {n: v["unit"] for n, v in out["metrics"].items()}
        check(printed == units,
              f"trace {trace}: printed metrics and units match BENCHMARK.json "
              f"(extra {sorted(set(printed) - set(units))}, "
              f"missing {sorted(set(units) - set(printed))})")
        if trace:
            traced = [c for c in good if c["traced"]]
            worst = max(abs(c["wall_s"] - c["span_operators_s"] - c["span_plans_s"]
                            - c["span_execution_s"]) / c["wall_s"] for c in traced)
            check(traced and worst <= SPLIT_TOLERANCE,
                  f"layer split sums to query wall within {SPLIT_TOLERANCE:.0%} "
                  f"(worst {worst:.4%} over {len(traced)} queries)")


if __name__ == "__main__":
    main()
