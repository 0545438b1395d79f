#!/usr/bin/env python
"""Fixed per-call costs of a perfbench workload, split three ways.

For every call of the workload this prints, as medians over warm
passes:

- ``build s``: Python-side plan construction (``call.build``), and
  ``py4j``: the JVM round trips it makes (proxy deletes excluded);
- ``plan s``: Catalyst optimization and physical planning of the built
  DataFrame (``queryExecution().executedPlan()``);
- ``exec s``: execution of that same plan (``toRdd().count()``), and
  ``compiles``: the Janino compilations of the whole call
  (``CodegenMetrics``), which a warm call should not need. The first
  pass's compilations are the working set of generated classes.

The inputs, the calls and the session are perfbench's own
(``perfbench/gen.py``, ``perfbench/workloads.py``, the pinned
environment of ``perfbench/run.py`` and ``flint_spark.get_spark``);
nothing is checked against the oracle.

Usage: python tools/call_costs.py [--workload ticks_sql] [--seed 1]
                                  [--warm 2] [--passes 5]
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
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

COLUMNS = ("build_s", "py4j", "plan_s", "exec_s", "compiles")


class RoundTrips:
    """Counts the commands sent over the session's py4j connection,
    except the deletes of garbage-collected proxies: those arrive in
    bursts whenever Python's collector runs, not with the call that
    made them."""

    def __init__(self, spark):
        from py4j.protocol import MEMORY_COMMAND_NAME

        self.client = spark.sparkContext._gateway._gateway_client
        self.n = 0
        send = self.client.send_command

        def counted(command, *args, **kwargs):
            self.n += not command.startswith(MEMORY_COMMAND_NAME)
            return send(command, *args, **kwargs)

        self.client.send_command = counted


def measure(call, inputs, trips: RoundTrips, compiles) -> dict:
    """One call's build, plan and execution costs."""
    n0, t0 = trips.n, time.perf_counter()
    c0 = compiles.getCount()
    df = call.build(inputs)
    t1 = time.perf_counter()
    py4j = trips.n - n0
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    t2 = time.perf_counter()
    qe.toRdd().count()
    t3 = time.perf_counter()
    return {"build_s": t1 - t0, "py4j": py4j, "plan_s": t2 - t1,
            "exec_s": t3 - t2, "compiles": compiles.getCount() - c0}


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="ticks_sql")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--warm", type=int, default=2)
    ap.add_argument("--passes", type=int, default=5)
    args = ap.parse_args(argv)

    import numpy as np

    import run
    run.pin_environment()
    import workloads as W
    from flint_spark import get_spark

    wl = W.WORKLOADS[args.workload]
    data = tempfile.mkdtemp(prefix="call_costs_")
    spark = get_spark("call_costs")
    try:
        wl.generate(np.random.default_rng(args.seed), data)
        inputs = wl.register(spark, data)
        trips = RoundTrips(spark)
        compiles = (spark._jvm.org.apache.spark.metrics.source
                    .CodegenMetrics.METRIC_COMPILATION_TIME())
        runs = {c.name: [] for c in wl.calls}
        cold = 0
        for i in range(args.warm + args.passes):
            for call in wl.calls:
                rec = measure(call, inputs, trips, compiles)
                cold += rec["compiles"] if i == 0 else 0
                if i >= args.warm:
                    runs[call.name].append(rec)
    finally:
        spark.stop()
        shutil.rmtree(data, ignore_errors=True)

    print(f"{wl.name}, seed {args.seed}: medians of {args.passes} passes "
          f"after {args.warm} warm-up passes; the first pass compiled "
          f"{cold} classes\n")
    print("| call | " + " | ".join(COLUMNS) + " |")
    print("|---|" + "---|" * len(COLUMNS))
    total = dict.fromkeys(COLUMNS, 0.0)
    for name, recs in runs.items():
        med = {k: statistics.median(r[k] for r in recs) for k in COLUMNS}
        for k in COLUMNS:
            total[k] += med[k]
        print(f"| `{name}` | " + " | ".join(
            f"{med[k]:.3f}" if k.endswith("_s") else f"{med[k]:g}"
            for k in COLUMNS) + " |")
    print("| total | " + " | ".join(
        f"{total[k]:.3f}" if k.endswith("_s") else f"{total[k]:g}"
        for k in COLUMNS) + " |")


if __name__ == "__main__":
    main()
