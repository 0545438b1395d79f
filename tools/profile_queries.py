#!/usr/bin/env python
"""Per-query profiler (optimization round, guide §1): for each named
bench query, split wall time into CONSTRUCTION (operator building —
driver-side collects, training jobs), PLANNING (first explain of the
returned frame) and EXECUTION (noop sink), count Spark jobs via the
status store, and dump `.explain("formatted")` to
$SPARK_GRAFT_PLANS_DIR when set. The round-11/12 dumps (`plans/r11/`,
`plans/r12/`) are in git history: `git show 3cd1966:plans/r12/<file>`.

Usage: python tools/profile_queries.py [query ...]   (default: top set)
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_DIR = os.environ.get("SPARK_GRAFT_PLANS_DIR", "")

DEFAULT = [
    "ivfpq_table", "ivfpq_build", "ivfpq", "semantic_dedup",
    "asof_topk", "containment", "dsir", "gopher_rules", "minhash_lsh",
    "ewm_corr", "ivf_ann", "rolling_quantile", "token_shift", "bigram_lm",
    "rolling_ols", "asof_broadcast", "spearman", "simhash_pairs",
    "bpe_tokens",
]


def _job_count(spark) -> int:
    try:
        store = spark.sparkContext._jsc.sc().statusStore()
        return store.jobsList(None).size()
    except Exception:
        return -1


def main() -> None:
    import bench
    import __spark_entry__ as entry
    from flint_spark import get_spark

    names = sys.argv[1:] or DEFAULT
    spark = get_spark("flint_spark_profile")
    qs = {**entry.queries(), **entry.extra_queries(),
          **bench._ivfpq_split_entries()}
    # warm JVM / parquet footers / python workers like bench does
    region = spark.read.parquet(f"{SF_DIR}/region.parquet")
    region.count()
    region.groupBy("r_regionkey").applyInPandas(
        lambda pdf: pdf, region.schema).count()
    for name in names:
        qs[name](spark, SF_DIR).write.mode("overwrite").format("noop").save()

    rows = []
    for name in names:
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"profile:{name}")
        j0 = _job_count(spark)
        t0 = time.perf_counter()
        df = qs[name](spark, SF_DIR)
        t1 = time.perf_counter()
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        t2 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        t3 = time.perf_counter()
        j1 = _job_count(spark)
        # second execution: construction again (bench times it too)
        spark.catalog.clearCache()
        t4 = time.perf_counter()
        df2 = qs[name](spark, SF_DIR)
        df2.write.mode("overwrite").format("noop").save()
        t5 = time.perf_counter()
        rows.append({
            "query": name, "construct_s": round(t1 - t0, 3),
            "explain_s": round(t2 - t1, 3), "exec_s": round(t3 - t2, 3),
            "total_s": round(t3 - t0, 3), "rerun_s": round(t5 - t4, 3),
            "jobs": j1 - j0,
        })
        print(json.dumps(rows[-1]), flush=True)
        if PLANS_DIR:
            os.makedirs(PLANS_DIR, exist_ok=True)
            with open(os.path.join(PLANS_DIR, f"{name}.txt"), "w") as f:
                f.write(plan)
    print("== summary (sorted by total) ==")
    for r in sorted(rows, key=lambda r: -r["total_s"]):
        print(f"{r['query']:28s} total {r['total_s']:7.3f}  "
              f"construct {r['construct_s']:7.3f}  explain {r['explain_s']:6.3f}  "
              f"exec {r['exec_s']:7.3f}  rerun {r['rerun_s']:7.3f}  jobs {r['jobs']}")


if __name__ == "__main__":
    main()
