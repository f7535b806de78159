#!/usr/bin/env python3
"""Empirical wall-vs-sf growth slopes for the flagship operators.

Runs graft.Bench three times (sf0.001 / sf0.01 / sf0.1) restricted to the
flagship dedup/ANN/graph/text queries, parses the per-query JSON line, and
prints the SCALE.md markdown table with the measured growth exponent

    k = log10( t(sf0.1) / t(sf0.01) )

i.e. wall ~ rows^k between the two largest corpora (sf0.001 is dominated by
fixed per-query overhead, so it is shown but not fitted). A shape that is
linear in corpus size has k <= ~1; anything trending k >= 1.5 on a
candidate-generation path is a super-linear surprise worth investigating.
Fixed overhead (session, planning, JIT — amortized by Bench's sf0.01
warm-up pass) deflates k, so these are upper-bound-safe: a HIGH k is a real
signal, a low k is not proof of sub-linearity.

Usage: python3 scripts/growth_slopes.py [best_of]
"""
import json
import subprocess
import sys

FLAGSHIPS = [
    # family, query, claimed shape
    ("dedup exact", "dedup_exact", "hash groupBy — linear"),
    ("dedup minhash", "dedup_minhash", "banded-LSH equi-join — ~linear + collisions"),
    ("dedup simhash", "dedup_simhash", "chunk-pigeonhole equi-join — ~linear + collisions"),
    ("dedup tfidf NN", "dedup_tfidf_nn", "inverted index — sum(df^2) under DF cap"),
    ("dedup cluster", "dedup_cluster", "CC loop — ~linear x log(diameter)"),
    ("paragraph dedup", "text_dedup_paragraph", "one window on hash(para) — linear"),
    ("ANN LSH", "sim_ann_lsh", "bucket equi-join — linear"),
    ("ANN IVF", "sim_ann_ivf", "probed-partition scan — linear"),
    ("brute topk", "sim_topk_bruteforce", "fixed query set x corpus — linear"),
    ("pagerank", "graph_pagerank", "per-iteration equi-join — linear x iters"),
    ("BPE encode", "text_bpe_encode", "map-only rewrite — linear"),
    ("kmeans", "emb_kmeans", "broadcast centroids — linear x iters"),
]

SFS = ["sf0.001", "sf0.01", "sf0.1"]


def run_sf(sf: str, names: list, best_of: str) -> dict:
    env = {
        "SPARK_GRAFT_SF_DIR": f"/root/testdata/{sf}",
        "SPARK_GRAFT_ONLY": ",".join(names),
        "SPARK_GRAFT_BEST_OF": best_of,
    }
    import os
    out = subprocess.run(
        ["sbt", "-batch", "runMain graft.Bench"],
        capture_output=True, text=True, env={**os.environ, **env})
    for line in out.stdout.splitlines():
        line = line.replace("[info] ", "", 1).strip()
        if line.startswith('{"metric"'):
            return json.loads(line)["queries"]
    sys.stderr.write(out.stdout[-2000:] + out.stderr[-2000:])
    raise RuntimeError(f"no bench line for {sf}")


def main():
    best_of = sys.argv[1] if len(sys.argv) > 1 else "2"
    names = [q for _, q, _ in FLAGSHIPS]
    results = {sf: run_sf(sf, names, best_of) for sf in SFS}
    print("| Flagship | sf0.001 | sf0.01 | sf0.1 | k (0.01→0.1) | verdict |")
    print("|---|---|---|---|---|---|")
    import math
    for fam, q, shape in FLAGSHIPS:
        t = [results[sf].get(q) for sf in SFS]
        if any(v is None for v in t):
            print(f"| {fam} (`{q}`) | — | — | — | — | missing |")
            continue
        k = math.log10(t[2] / t[1])
        verdict = "OK" if k < 1.3 else ("WATCH" if k < 1.6 else "INVESTIGATE")
        print(f"| {fam} (`{q}`) | {t[0]:.2f} s | {t[1]:.2f} s | {t[2]:.2f} s "
              f"| {k:.2f} | {verdict} — {shape} |")


if __name__ == "__main__":
    main()
