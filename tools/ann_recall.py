#!/usr/bin/env python
"""Recall/time table of the similarity top-k routes.

Each approximate route of ``flint_spark.pipeline.similarity`` is scored
by recall@k against the exact ``cosine_topk`` on the same probes, and
timed (median of ``--runs`` warm runs after one warm-up). *build* is
the training or codes write a route needs once per corpus; *search*
is one call of the top-k entry point collected to the driver (for
``ivfpq_topk`` that includes its encode pass, which it runs on every
call).

Corpora come from perfbench's seeded embedding generator
(``perfbench/gen.py:corpus_tables``: 32 clusters in 16-d, near and
exact duplicates), written to a temporary parquet file per size.

Usage: python tools/ann_recall.py [--sizes 2000,8000,32000] [--runs 3]
           [--probes 20,200] [--k 10] [--seed 1]
Env: SPARK_GRAFT_CPUS (local[N] cores).
"""

from __future__ import annotations

import argparse
import math
import os
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))


def _timed(fn, runs: int):
    """(median seconds, last result) over ``runs`` calls after a
    warm-up call."""
    out = fn()
    times = []
    for _ in range(runs):
        t = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times), out


def _topk_ids(rows) -> dict:
    got: dict = {}
    for r in rows:
        got.setdefault(r["probe_id"], set()).add(r["vec_id"])
    return got


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sizes", default="2000,8000,32000")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--probes", default="20,200")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    import numpy as np
    from gen import corpus_tables, write_parquet

    from flint_spark import get_spark
    from flint_spark.pipeline import similarity as sim

    spark = get_spark("ann_recall")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="ann_recall_")
    k = args.k
    print("| rows | cells | probes | route | build s | search s | "
          "recall@k |")
    print("|---|---|---|---|---|---|---|")
    for n in (int(s) for s in args.sizes.split(",")):
        _, emb_t, _ = corpus_tables(np.random.default_rng(args.seed), n)
        path = os.path.join(tmp, f"emb_{n}.parquet")
        write_parquet(emb_t, path)
        emb = spark.read.parquet(path)
        # IVF rule of thumb: about sqrt(N) points per cell
        cells = max(4, round(math.sqrt(n) / 2))
        members = list(range(0, n, n // cells))[:cells]
        nprobe = 4

        built = {}

        def build(name, fn):
            built[name] = _timed(fn, args.runs)
            return built[name][1]

        cents = build("ivf_ann_topk_trained",
                      lambda: sim.ivf_train(emb, k=cells, iters=2))
        ivfpq = build("ivfpq_topk", lambda: sim.ivfpq_build(
            emb, k_coarse=cells, m=4, ksub=16))
        codes = os.path.join(tmp, f"codes_{n}")
        build("ivfpq_topk_table", lambda: sim.ivfpq_save_codes(
            emb, *ivfpq, codes))

        for n_probes in (int(p) for p in args.probes.split(",")):
            probes = list(range(0, n, n // n_probes))[:n_probes]
            routes = {
                "cosine_topk (exact)": lambda: sim.cosine_topk(
                    emb, probes, k),
                "lsh_ann_topk": lambda: sim.lsh_ann_topk(
                    emb, probes, k, dim=16),
                "ivf_ann_topk": lambda: sim.ivf_ann_topk(
                    emb, probes, members, k, nprobe),
                "ivf_ann_topk_trained": lambda: sim.ivf_ann_topk_trained(
                    emb, cents, probes, k, nprobe),
                "ivfpq_topk": lambda: sim.ivfpq_topk(
                    emb, *ivfpq, probes, k, nprobe),
                "ivfpq_topk_table": lambda: sim.ivfpq_topk_table(
                    spark, codes, emb, *ivfpq, probes, k, nprobe),
            }
            exact = None
            for name, fn in routes.items():
                secs, rows = _timed(lambda: fn().collect(), args.runs)
                got = _topk_ids(rows)
                exact = exact or got
                recall = sum(len(got.get(p, set()) & exact[p])
                             for p in exact) / sum(map(len, exact.values()))
                # ivfpq_topk_table's build is its codes write on top of
                # ivfpq_topk's training
                b = f"{built[name][0]:.2f}" if name in built else "—"
                print(f"| {n} | {cells} | {len(probes)} | {name} | {b} | "
                      f"{secs:.2f} | {recall:.3f} |", flush=True)


if __name__ == "__main__":
    main()
