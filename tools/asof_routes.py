#!/usr/bin/env python
"""Time table of the as-of routes for a small (dim-table) right side.

Times the union-window plan (``asof.left_join(distributed=False)``)
against the broadcast as-of engine (``asof.left_join_broadcast``) over
the dim-table shapes the broadcast engine exists for, then prints one
markdown table.

- Batch: parquet lefts of 1M rows and of 24k rows over 500 keys, joined
  backward to parquet rights of keys x rows-per-key. Times are uniform
  over 1 s, the tolerance is 5 ms. A run is one call, plan build
  included (the broadcast engine collects its right side then),
  written to the ``noop`` sink so every column is computed; the median
  of ``--runs`` warm runs after one warm-up is reported.
- Stream: a stream-static replay (``ts_stream.asof_join_static``) of
  10 parquet files of 7k rows, one file per micro-batch, to the
  ``noop`` sink; the median ``addBatch`` over the batches is reported.
  The union plan cannot run on a stream, so that column reads "—".

Usage: python tools/asof_routes.py [--runs 3] [--seed 1]
Env: SPARK_GRAFT_CPUS (local[N] cores).
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

KEYS = 500
SPAN_NS = 1_000_000_000
TOLERANCE = 5_000_000
#: (left rows, right keys, right rows per key)
BATCH_SHAPES = [(1_000_000, 500, 2), (1_000_000, 500, 10),
                (1_000_000, 500, 100), (1_000_000, 50, 1000),
                (1_000_000, 10, 10), (24_000, 500, 10), (24_000, 10, 10)]
#: (right keys, right rows per key) of the stream replay
STREAM_SHAPES = [(500, 10), (10, 10)]
STREAM_FILES, STREAM_ROWS = 10, 7_000


def _timed(fn, runs: int) -> float:
    """Median seconds over ``runs`` calls after a warm-up call."""
    fn()
    times = []
    for _ in range(runs):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _frame(spark, path, rows, keys, seed, value):
    """Write ``rows`` rows of (time, k, value) — times uniform over
    ``SPAN_NS``, keys ``id % keys`` — to parquet at ``path`` and read
    them back."""
    from pyspark.sql import functions as F

    (spark.range(rows)
     .select(F.floor(F.rand(seed) * SPAN_NS).cast("long").alias("time"),
             (F.col("id") % keys).cast("int").alias("k"),
             F.rand(seed + 1).alias(value))
     .write.mode("overwrite").parquet(path))
    return spark.read.parquet(path)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    from flint_spark import get_spark

    spark = get_spark("asof_routes")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="asof_routes_")
    try:
        _run(spark, tmp, args.runs, args.seed)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _run(spark, tmp, runs: int, seed: int) -> None:
    from flint_spark.operators import asof
    from flint_spark.streaming import ts_stream

    routes = {
        "union": lambda l, r: asof.left_join(
            l, r, TOLERANCE, key=["k"], distributed=False),
        "broadcast": lambda l, r: asof.left_join_broadcast(
            l, r, TOLERANCE, key=["k"]),
    }
    stream_routes = {
        "broadcast": lambda s, r: ts_stream.asof_join_static(
            s, r, TOLERANCE, key=["k"]),
    }
    print("| shape | left rows | right | " + " | ".join(
        f"{name} s" for name in routes) + " |")
    print("|---|---|---|" + "---|" * len(routes))
    lefts = {}
    for n, keys, per in BATCH_SHAPES:
        if n not in lefts:
            lefts[n] = _frame(spark, os.path.join(tmp, f"left_{n}"), n,
                              KEYS, seed, "x")
        right = _frame(spark, os.path.join(tmp, f"right_{keys}_{per}"),
                       keys * per, keys, seed + 7, "rv")
        secs = [_timed(lambda: fn(lefts[n], right).write.format("noop")
                       .mode("overwrite").save(), runs)
                for fn in routes.values()]
        print(f"| batch | {n} | {keys}x{per} | "
              + " | ".join(f"{s:.2f}" for s in secs) + " |", flush=True)

    src = os.path.join(tmp, "stream")
    # round-robin: STREAM_FILES files of exactly STREAM_ROWS rows
    _frame(spark, os.path.join(tmp, "stream_rows"),
           STREAM_FILES * STREAM_ROWS, KEYS, seed + 3, "x") \
        .repartition(STREAM_FILES).write.parquet(src)
    schema = spark.read.parquet(src).schema
    for keys, per in STREAM_SHAPES:
        right = _frame(spark, os.path.join(tmp, f"sright_{keys}_{per}"),
                       keys * per, keys, seed + 7, "rv")
        cells = []
        for name in routes:
            if name not in stream_routes:
                cells.append("—")
                continue
            stream = (spark.readStream.schema(schema)
                      .option("maxFilesPerTrigger", 1).parquet(src))
            q = (stream_routes[name](stream, right).writeStream
                 .format("noop")
                 .option("checkpointLocation",
                         os.path.join(tmp, f"ckpt_{name}_{keys}_{per}"))
                 .start())
            q.processAllAvailable()
            q.stop()
            add = [p["durationMs"]["addBatch"] / 1000
                   for p in q.recentProgress if p["numInputRows"] > 0]
            cells.append(f"{statistics.median(add):.3f}")
        print(f"| stream addBatch | {STREAM_FILES} x {STREAM_ROWS} | "
              f"{keys}x{per} | " + " | ".join(cells) + " |", flush=True)


if __name__ == "__main__":
    main()
