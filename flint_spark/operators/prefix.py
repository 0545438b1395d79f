"""Distributed keyless cumulative (prefix) aggregation.

The reference's ``addSummaryColumns`` is explicitly distributed — per
partition it computes a partial summarizer state, prefix-combines the
partials on the driver, and rescans each partition with its carry-in
(``rdd/function/summarize/Summarizations.scala:51-122``). A keyless
``Window.orderBy(time).rowsBetween(unboundedPreceding, currentRow)``
funnels the whole table through ONE task instead, which is the last
systematic scale-killer a 100 TB deployment would hit (r6 verdict).

This module is the Spark-expression analogue of that two-phase plan,
generalized over MERGEABLE STATE rather than one hard-coded recurrence
(the affine-EWMA twin lives in ``ema._keyless_distributed``):

1. bucket rows into time-quantile partitions: approx-quantile
   boundaries (one sampling pass) + an in-JVM binary-search ``__pid``
   expression, then ONE hash exchange on ``__pid`` + sort within
   partitions, persisted (``pipeline._cache``) so later jobs read it
   instead of re-executing it. ``__pid`` being VALUE-derived (not
   ``spark_partition_id`` over a range exchange) is load-bearing:
   HashPartitioning(__pid) is exactly the ClusteredDistribution every
   later window/aggregate requires, so they all reuse this one
   exchange — the r7 layout's range partitioning satisfied none of
   them and Catalyst silently re-shuffled the full data per pass
   (ADVICE r7);
2. every state accumulator evaluates as a within-partition cumulative
   window expression — one WindowExec, no cross-partition traffic;
3. a tiny per-partition aggregate extracts each partition's FINAL state
   row (P rows total), and the carry-in for partition p is the
   merge-combine of partitions < p — computed as a window over the
   P-row table itself (one task over P rows, the driver-side
   prefix-combine of the reference without leaving SQL);
4. a broadcast join + pure-JVM merge expressions produce the global
   cumulative state per row, and the caller's ``render`` turns state
   into output columns.

Exchange budget (pinned by ``test_keyless_engine_exchange_budget``):
ONE data exchange (the ``__pid`` hash layout) + 1 tiny P-row carry
exchange + 1 broadcast — vs the single-task plan's one exchange INTO
one partition. Every merge kind below is a commutative-monoid
combine, so per-partition parallelism never changes results (up to
the usual float fold association, which tests compare rounded).

Merge kinds: ``sum`` (count/sum — type-preserving, null = empty),
``min``/``max`` (null-skipping least/greatest), ``product``, ``last``
(latest non-null wins; partition order = (time, tie_break) so the
carry is the previous partitions' last), ``concat`` (ordered array
concatenation, earlier partitions first).
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..pipeline import _cache
from ..timeseries import time_ns_expr

__all__ = ["keyless_cumulative", "time_buckets"]

#: (name, builder(df, over) -> Column, merge_kind)
CumItem = tuple[str, Callable[[DataFrame, Callable[[Column], Column]], Column], str]

_KINDS = ("sum", "min", "max", "product", "last", "concat")


def time_buckets(df: DataFrame, tns: Column, p: int) -> tuple[Column, int]:
    """``__pid`` as a VALUE-derived time bucket over a ``__tns`` column:
    approx-quantile boundaries of ``tns`` over ``df`` (one sampling
    pass), then an in-JVM binary search. Equal timestamps share a
    bucket, and a re-planned run puts every row in the same bucket.
    Returns (pid column, bucket count)."""
    from .asof import upper_bound_expr

    err = 1.0 / max(p * 8, 64)
    # p <= 1: no boundaries — approxQuantile rejects an empty
    # probability list (an NPE under shuffle.partitions=1)
    bounds = [] if p <= 1 else sorted(set(
        df.select(tns.alias("__tns"))
        .approxQuantile("__tns", [i / p for i in range(1, p)], err)))
    pid = (upper_bound_expr(F.lit(bounds), F.col("__tns"))
           .cast("int") if bounds else F.lit(0))
    return pid, len(bounds) + 1


def _carry_agg(kind: str, c: Column) -> Column:
    """Combine per-partition FINAL states into the carry for the NEXT
    partition — evaluated over the P-row partials table ordered by
    partition id, frame = strictly-preceding partitions."""
    if kind == "sum":
        return F.sum(c)
    if kind == "min":
        return F.min(c)
    if kind == "max":
        return F.max(c)
    if kind == "product":
        return F.product(c)
    if kind == "last":
        return F.last(c, ignorenulls=True)
    if kind == "concat":
        # collect_list skips null partials (all-null partitions carry
        # nothing); flatten preserves partition order
        return F.flatten(F.collect_list(c))
    raise ValueError(f"unknown merge kind {kind!r} (one of {_KINDS})")


def _merge(kind: str, cs: Column, carry: Column) -> Column:
    """Global cumulative state = merge(carry from earlier partitions,
    within-partition cumulative). Null = empty state on either side;
    expressions stay type-preserving (no literal zero that would
    widen a long sum to double)."""
    if kind in ("sum", "product"):
        return (F.when(cs.isNull(), carry)
                .when(carry.isNull(), cs)
                .otherwise((cs + carry) if kind == "sum" else cs * carry))
    if kind == "min":
        return F.least(cs, carry)    # least/greatest skip nulls
    if kind == "max":
        return F.greatest(cs, carry)
    if kind == "last":
        return F.coalesce(cs, carry)  # current partition's latest wins
    if kind == "concat":
        return (F.when(carry.isNull(), cs)
                .when(cs.isNull(), carry)
                .otherwise(F.concat(carry, cs)))
    raise ValueError(f"unknown merge kind {kind!r} (one of {_KINDS})")


def keyless_cumulative(
        df: DataFrame,
        items: Sequence[CumItem],
        render: Callable[[dict[str, Column]], dict[str, Column]],
        tie_break: Sequence[str] = (),
        num_partitions: int | None = None,
        keep_layout: bool = False) -> DataFrame:
    """Distributed running aggregate over a KEYLESS time-ordered table.

    ``items`` are state accumulators ``(name, builder, kind)``; each
    ``builder(df, over)`` must return the accumulator with every
    aggregate call wrapped by ``over`` (the summarizer-builder
    convention). ``render(state)`` maps the merged cumulative state
    columns to the output columns ``{out_name: Column}``.

    Row order is the TOTAL order (time, *tie_break, remaining
    orderable columns) — rows tying on it are identical rows, so the
    scan order (and therefore every output) is a pure function of the
    DATA, independent of physical layout or cache state; the keyed
    window path's value-struct tie-break, applied to the engine
    itself. Equal timestamps never straddle partitions (``__pid`` is
    a pure function of the time value), so a tie group is always
    merged by one within-partition window.

    ``keep_layout=True`` returns the engine's layout columns
    (``__tns``/``__pid``/``__mid``) alongside the outputs so a second
    pass (e.g. the running-min-of-prefix-sum stage of keyless CUSUM)
    can reuse the SAME shuffle: a frame that still carries ``__pid``
    skips repartitioning entirely — its second pass costs one more
    tiny partials job, zero data exchanges. The persisted layout is
    retained under ``pipeline._cache``'s policy.
    """
    for _, _, kind in items:
        if kind not in _KINDS:
            raise ValueError(f"unknown merge kind {kind!r} (one of {_KINDS})")
    reuse = "__pid" in df.columns
    data_cols = [c for c in df.columns if not c.startswith("__")]
    layout_cols = ["__tns", "__pid", "__mid"]
    if reuse:
        sdf = df
        with _cache._LOCK:
            _cache.STATS["reused"] += 1
    else:
        p = num_partitions or int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        # a hash repartition on the expression-derived __pid is exactly
        # the ClusteredDistribution(__pid) every window/aggregate below
        # requires: ONE data exchange, verified by the plan_counts pins
        # (a range exchange on __tns satisfied none of them, ADVICE r7).
        tns = time_ns_expr(df)
        pid, n_buckets = time_buckets(df, tns, p)
        # 4x partitions per distinct pid: hashing ~P pid values into P
        # partitions pigeonholes ~1/e of tasks empty and piles 2-4
        # buckets on others; the wider exchange keeps max-load ~1 and
        # every downstream window still reuses HashPartitioning(__pid).
        #
        # __mid is row_number() over a TOTAL order — (__tns, tie_break,
        # then every orderable data column), NOT
        # monotonically_increasing_id(). Two reasons (r8 review):
        # 1. DETERMINISM BY CONSTRUCTION: rows equal on the full sort
        #    key are identical rows, so any recompute reproduces the
        #    same (row, __mid) multiset — the window and partials
        #    subtrees can never diverge on ties even with the cache
        #    cold. The engine-wide max-struct philosophy (sort by time
        #    THEN values), applied to the layout itself.
        # 2. CACHE SUBSTITUTION: the window and partials subtrees form
        #    a self-join over this layout; Spark's self-join
        #    deduplication clones one branch, and a nondeterministic
        #    expression canonicalizes as never-equal after cloning, so
        #    the cache manager refused to substitute the persisted
        #    layout — BOTH branches silently recomputed the full
        #    repartition+sort from the scan (observed: two layout
        #    exchanges, zero InMemoryTableScans).
        # Map-typed columns are unorderable and excluded; rows equal up
        # to map values then tie arbitrarily, which only reorders
        # 'last'/'concat' state among rows identical on every orderable
        # column.
        extra = [c for c, t in df.dtypes
                 if c in data_cols and c not in tie_break
                 and "map<" not in t]
        order_cols = ["__tns", *tie_break, *extra]
        w_mid = (Window.partitionBy("__pid")
                 .orderBy(*[F.col(c) for c in order_cols]))
        sdf = _cache.persist(
            df.withColumn("__tns", tns)
            .withColumn("__pid", pid)
            .repartition(4 * n_buckets, "__pid")
            .sortWithinPartitions(*[F.col(c) for c in order_cols])
            .withColumn("__mid", F.row_number().over(w_mid)))

    w_in = (Window.partitionBy("__pid")
            .orderBy("__tns", *[F.col(c) for c in tie_break], "__mid")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    over = lambda c: c.over(w_in)  # noqa: E731
    # ONE withColumns projection -> one WindowExec for every state col
    stated = sdf.withColumns(
        {f"__cs_{n}": fn(df, over) for n, fn, _ in items})

    # P-row partials: each partition's state at its FINAL row
    partials = (stated.groupBy("__pid")
                .agg(*[F.max_by(F.col(f"__cs_{n}"), F.col("__mid"))
                       .alias(f"__cs_{n}") for n, _, _ in items]))
    w_prev = (Window.orderBy("__pid")
              .rowsBetween(Window.unboundedPreceding, -1))
    carry = partials.select(
        "__pid",
        *[_carry_agg(k, F.col(f"__cs_{n}")).over(w_prev)
          .alias(f"__carry_{n}") for n, _, k in items])

    joined = stated.join(F.broadcast(carry), "__pid", "left")
    state = {n: _merge(k, F.col(f"__cs_{n}"), F.col(f"__carry_{n}"))
             for n, _, k in items}
    outs = render(state)
    keep = data_cols + (layout_cols if keep_layout else [])
    result = joined.select(*keep, *[c.alias(n) for n, c in outs.items()])
    return _cache.hold(result, sdf)
