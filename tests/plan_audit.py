"""Regenerate docs/PLANS.md: physical-plan audit of every gate + extra
query — shuffle / broadcast / Python-stage / broadcast-NLJ counts from
the executed (AQE-final) plan string.

Usage: python tests/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADER = """# Physical-plan audit (sf0.01, local[32], AQE on)

Generated by `python tests/plan_audit.py` over every
`__spark_entry__.queries()` + `extra_queries()` entry. *shuffles*
excludes broadcast exchanges; *python* counts Arrow-batched Python
stages (the only Python in the engine); NLJ appears only as
broadcast-nested-loop against tiny literal probe/centroid sides.

Counting is per final executed plan NODE (not the printed string, which
repeats cached subtrees once per consumer). Every operator-internal
persist that outlives its call (MinHash signatures, SimHash table,
filtered shingles, PQ codes, the keyless prefix engine's per-row state
for running summarizers and the EWMA scans, DSIR scores) goes through
one policy, `pipeline._cache`: the `LRU_SIZE` most recently built
subtrees stay cached, the oldest past that is unpersisted even if a
live frame reads it, and an eviction costs a recompute, never a
different result. Such subtrees execute their shuffles once at first
materialization and appear as InMemoryTableScan afterwards, so
pair-join queries whose heavy aggregation is cached legitimately show
0-3 shuffles here.

Document-corpus queries include one RoundRobin exchange from the
input-split parallelism guard (`dedup._spread`): the local fixtures are
single parquet files, so map-side explosions would otherwise run in one
task. The guard no-ops on inputs with >= cores splits — i.e. on any
real large corpus — so that exchange is a local-fixture artifact, not
part of the operator's scale cost.

Rows whose operator does DRIVER-SIDE CONSTRUCTION (training loops,
sizing counts, importance aggregates) execute real shuffles BEFORE the
audited plan exists; the *construction-time work* column annotates
them so the table cannot under-read (r9 verdict item: pagerank's 0
rows hid its iteration shuffles behind a localCheckpoint).

| query | shuffles | broadcasts | python stages | bnlj | construction-time work |
|---|---|---|---|---|---|
"""

#: one sentence per row whose cost partially runs at CONSTRUCTION time
#: (before/outside the audited plan) — keep in sync with the operators
CONSTRUCTION_NOTES = {
    "pagerank": ("audited frame is a materialized localCheckpoint; "
                 "~2 shuffles/iteration ran during min-label pointer-"
                 "jumping construction"),
    "dsir": ("importance-weight aggregates (2 corpus exchanges) "
             "computed at construction; the audited plan is the "
             "selection projection"),
    "global_shuffle": ("one count() at construction sizes the "
                       "shard space"),
    "pca_project": ("dim^2 Gramian aggregation + driver eigensolve at "
                    "construction; projection is the audited plan"),
    "logreg_quality": ("k+1-float gradient aggregates per training "
                       "iteration at construction; scoring is the "
                       "audited plan"),
    "ivf_ann": ("one collect of the member centroids and probes; "
                "probe cells ranked on the driver"),
    "ivf_ann_trained": ("Lloyd rounds (one hash aggregation each) + the "
                        "probe collect at construction; probe cells "
                        "ranked on the driver"),
    "ivfpq": ("coarse + residual PQ training and the partitioned "
              "codes write run at construction (see ivfpq_build/"
              "ivfpq_serve bench split)"),
    "ivfpq_table": ("same construction cost as ivfpq; audited plan is "
                    "the partition-pruned serve scan"),
    "asof_broadcast": ("the right side's snapshot (a one-task key-id "
                       "rank and sort, collected) runs at construction"),
    "bpe_tokens": ("<=10 batched driver merge rounds (one pair-count "
                   "exchange each) train the vocabulary at "
                   "construction"),
}


def audit(df) -> tuple[int, int, int, int]:
    """Counts from the AQE-final plan — shared walker in
    ``flint_spark.plans.audit`` (collect() executes df's own
    QueryExecution; a side-channel noop write would leave it
    un-finalized)."""
    from flint_spark.plans.audit import plan_counts

    c = plan_counts(df)
    return c["shuffles"], c["broadcasts"], c["python"], c["bnlj"]


def main(sf_dir: str = "/root/testdata/sf0.01") -> None:
    import __spark_entry__ as entry
    from flint_spark import get_spark

    spark = get_spark("plan_audit")
    rows = []
    qs = {**entry.queries(), **entry.extra_queries()}
    for name, fn in qs.items():
        s, b, p, n = audit(fn(spark, sf_dir))
        note = CONSTRUCTION_NOTES.get(name, "—")
        rows.append(f"| {name} | {s} | {b} | {p} | {n} | {note} |")
        print(rows[-1])
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "docs", "PLANS.md")
    with open(out, "w") as f:
        f.write(HEADER + "\n".join(rows) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
