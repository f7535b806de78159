#!/usr/bin/env python3
"""Layer-split benchmark for the graft Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark's
Scala code from source (once per source state, into .bench_build/), runs one
benchmark JVM at local[<cores>], checks every measured query's result
against the DuckDB oracle, and prints one JSON object as the last line
of stdout. With --trace 0 it reports the end-to-end metrics, with
--trace 1 the per-layer metrics (see perfbench/README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import fingerprint

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
SPEC = os.path.join(HERE, "workloads.json")
CLASSES = os.path.join(WORK, "sbt", "scala-2.13", "classes")
RUN_TIMEOUT_S = 170
HEAP = "4g"

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark installation: set SPARK_HOME")
    return jars


def source_stamp():
    """Hash of every file the build reads, so an unchanged tree reuses
    the previous build and a changed one always rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(jars):
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    log("building engine and benchmark (sbt compile)")
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    t0 = time.monotonic()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                       f"-Dperfbench.sparkJars={jars}", "compile"],
                      cwd=HERE, stdout=out, timeout=840)
    if rc != 0:
        fail(f"build failed (rc={rc}); see .bench_build/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.monotonic() - t0:.1f} s")


def run_proc(cmd, cwd, stdout, timeout):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, 9)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, 9)
            p.wait()


def run_jvm(jars, args, deadline):
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(WORK, "runs", f"{args.workload}_seed{args.seed}_trace{args.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{jars}/*", "perfbench.LayerBench",
            SPEC, args.workload, str(args.seed), str(args.seconds),
            str(args.trace), WORK, out]
    jvm_log = os.path.join(WORK, "runs", "jvm.log")
    with open(jvm_log, "w") as f:
        rc = run_proc(cmd, cwd=ROOT, stdout=f,
                      timeout=max(10.0, deadline - time.monotonic()))
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        with open(jvm_log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM failed (rc={rc})")
    with open(jvm_log) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    with open(out) as f:
        return json.load(f)


# ---- output check -------------------------------------------------------

def check_outputs(raw):
    """Names of queries whose check-pass result does not match the DuckDB
    oracle on the same inputs. Expected fingerprints are cached beside the
    inputs, keyed by query name and oracle text."""
    inputs = raw["input_dir"]
    cache_file = os.path.join(inputs, "_expected.json")
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    bad = []
    con = None
    for name, chk in sorted(raw["checks"].items()):
        if "error" in chk:
            bad.append(name)
            continue
        if "rows" in chk:  # the reference DISTINCT: row count
            sql = ("SELECT count(*) AS n FROM (SELECT DISTINCT A, B, C, D, E "
                   f"FROM read_parquet('{inputs}/*.parquet'))")
        elif name in raw["oracle"]:
            sql = raw["oracle"][name]
        else:
            bad.append(name)
            log(f"{name}: no oracle SQL, result cannot be checked")
            continue
        key = f"{name}:{hashlib.sha256(sql.encode()).hexdigest()[:16]}"
        if key not in cache:
            if con is None:
                con = fingerprint.duck(inputs)
            df = con.execute(sql).fetchdf()
            cache[key] = (int(df.iloc[0, 0]) if "rows" in chk
                          else fingerprint.fingerprint(df))
        want = cache[key]
        got = chk["rows"] if "rows" in chk else fingerprint.of_parquet_dir(chk["dir"])
        if got != want:
            bad.append(name)
            log(f"{name}: result {got} != oracle {want}")
    with open(cache_file + ".tmp", "w") as f:
        json.dump(cache, f)
    os.replace(cache_file + ".tmp", cache_file)
    return bad


# ---- metrics ------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else None


def quantile(xs, q):
    """Linear-interpolated quantile (q in (0,1)) of a non-empty list."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def geomean(xs):
    return statistics.geometric_mean(xs) if xs else None


def end_to_end(raw, ok_comps):
    # Only whole passes: a partial pass over-represents the list's first
    # queries, which would move the median between runs.
    whole = {p["pass"] for p in raw["passes"]}
    comps = [c for c in ok_comps if c["pass"] in whole]
    walls = [c["wall_s"] for c in comps]
    per_query = {}
    for c in comps:
        per_query.setdefault(c["query"], []).append(c["wall_s"])
    return {
        "setup_s": (median(raw["setup_s"]), "s"),
        "pass_s": (median([p["wall_s"] for p in raw["passes"]]), "s"),
        "query_p50_s": (median(walls), "s"),
        "query_geomean_s": (geomean([median(v) for v in per_query.values()]), "s"),
    }


def per_layer(raw, ok_comps, cancels, n_ops):
    traced = [c for c in ok_comps if c["traced"]]
    if not traced:
        fail("traced run measured no traced query")
    per = len(traced) / n_ops  # traced passes' worth of queries
    lay = raw.get("layers", {})

    def L(layer, key):
        return lay.get(layer, {}).get(key, 0)

    cancels = [c for c in cancels if c["traced"]]
    lat = [c["cancel_ms"] for c in cancels if c["ok"]]
    ops = sum(c["operators_s"] for c in traced)
    plans = sum(c["plans_s"] for c in traced)
    exe = sum(c["execution_s"] for c in traced)
    split = ops + plans + exe
    cores = raw["cores"]
    passes = raw["passes"]
    t_pass = [p["wall_s"] for p in passes if p["traced"]]
    u_pass = [p["wall_s"] for p in passes if not p["traced"]]
    m = {
        "operators.wall_s": (ops / per, "s"),
        "operators.share": (ops / split, "ratio"),
        "operators.jobs": (L("operators", "jobs") / per, "count"),
        "operators.stages": (L("operators", "stages") / per, "count"),
        "operators.ms_per_job": (1000 * ops / max(1, L("operators", "jobs")), "ms"),
        "operators.task_cpu_s": (L("operators", "task_cpu_s") / per, "s"),
        "operators.shuffle_write_mb": (L("operators", "shuffle_write_mb") / per, "MB"),
        "operators.checkpoint_mb": (sum(c["storage_mb"] for c in traced) / per
                                    - raw["cached_mb"] * n_ops, "MB"),
        "plans.wall_ms": (1000 * plans / per, "ms"),
        "plans.analysis_ms": (sum(c["analysis_ms"] for c in traced) / per, "ms"),
        "plans.optimization_ms": (sum(c["optimization_ms"] for c in traced) / per, "ms"),
        "plans.planning_ms": (sum(c["planning_ms"] for c in traced) / per, "ms"),
        "plans.exchanges": (sum(c["exchanges"] for c in traced) / per, "count"),
        "plans.broadcasts": (sum(c["broadcasts"] for c in traced) / per, "count"),
        "execution.wall_s": (exe / per, "s"),
        "execution.jobs": (L("execution", "jobs") / per, "count"),
        "execution.stages": (L("execution", "stages") / per, "count"),
        "execution.tasks": (L("execution", "tasks") / per, "count"),
        "execution.task_cpu_s": (L("execution", "task_cpu_s") / per, "s"),
        "execution.cpu_util": (L("execution", "task_cpu_s") / (exe * cores), "ratio"),
        "execution.idle_core_s": ((exe * cores - L("execution", "task_run_s")) / per, "s"),
        "execution.shuffle_read_mb": (L("execution", "shuffle_read_mb") / per, "MB"),
        "execution.shuffle_write_mb": (L("execution", "shuffle_write_mb") / per, "MB"),
        "execution.spill_mb": (L("execution", "spill_mb") / per, "MB"),
        "cancel.runs": (len(cancels), "count"),
        "cancel.p50_ms": (median(lat), "ms"),
        "cancel.p90_ms": (quantile(lat, 0.9) if lat else None, "ms"),
        "cancel.completed_before_cancel": (
            sum(1 for c in cancels if c["completed_before_cancel"]), "count"),
        "cancel.tasks_killed": (L("cancel", "tasks_killed"), "count"),
        "cancel.jobs_cancelled": (L("cancel", "jobs_cancelled"), "count"),
        "sources.gen_s": (raw["gen_s"], "s"),
        "sources.load_s": (median(raw["load_s"]), "s"),
        "sources.cached_mb": (raw["cached_mb"], "MB"),
        "jvm.gc_s": (raw["jvm"]["gc_s"], "s"),
        "jvm.jit_s": (raw["jvm"]["jit_s"], "s"),
        "jvm.heap_peak_mb": (raw["jvm"]["heap_peak_mb"], "MB"),
        "jvm.warmup_s": (raw["warmup_s"], "s"),
        "trace.overhead_share": (median(t_pass) / median(u_pass) - 1
                                 if t_pass and u_pass else None, "ratio"),
        "trace.split_residual_share": (
            max(abs(c["wall_s"] - c["span_operators_s"] - c["span_plans_s"]
                    - c["span_execution_s"]) / c["wall_s"] for c in traced), "ratio"),
        "trace.spans": (raw["spans"], "count"),
    }
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_TIMEOUT_S

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources under {ROOT} (build.sbt, src/main/scala/graft)")
    spec = json.load(open(SPEC))
    if args.workload not in spec:
        fail(f"unknown workload {args.workload!r}; known: {sorted(spec)}")
    jars = spark_jars()
    os.makedirs(WORK, exist_ok=True)
    build(jars)
    deadline = max(deadline, time.monotonic() + 150)  # a build does not eat the run

    t0 = time.monotonic()
    raw = run_jvm(jars, args, deadline)
    t1 = time.monotonic()
    bad = set(check_outputs(raw))
    log(f"benchmark JVM {t1 - t0:.1f} s, output check {time.monotonic() - t1:.1f} s")

    comps = raw["completions"]
    cancels = raw["cancels"]
    ok_comps = [c for c in comps if c["ok"] and c["query"] not in bad]
    attempted = len(comps) + len(cancels)
    failed = (len(comps) - len(ok_comps)) + sum(1 for c in cancels if not c["ok"])
    n_ops = len(spec[args.workload]["queries"])
    if not ok_comps:
        metrics = {}
    elif args.trace:
        metrics = per_layer(raw, ok_comps, cancels, n_ops)
    else:
        metrics = end_to_end(raw, ok_comps)
    log(f"{args.workload} seed={args.seed}: {len(comps)} completions over "
        f"{len(raw['passes'])} passes, {len(cancels)} cancels, "
        f"{len(bad)} checks failed, {failed} failed")
    correct = not bad and failed == 0 and bool(metrics) and all(
        v is not None for v, _ in metrics.values())
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
