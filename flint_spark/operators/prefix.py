"""Distributed keyless cumulative (prefix) aggregation: the one engine
behind every keyless running operator.

The reference's ``addSummaryColumns`` is explicitly distributed — per
partition it computes a partial summarizer state, prefix-combines the
partials on the driver, and rescans each partition with its carry-in
(``rdd/function/summarize/Summarizations.scala:51-122``). A keyless
``Window.orderBy(time).rowsBetween(unboundedPreceding, currentRow)``
funnels the whole table through ONE task instead, which is the last
systematic scale-killer a 100 TB deployment would hit (r6 verdict).

:func:`_engine` is the Spark-expression analogue of that two-phase
plan, generalized over MERGEABLE STATE: a caller supplies a per-row
state step and a merge kind per state column —
:func:`keyless_cumulative` (bars, changepoint, aggregate, sampling)
cumulative window expressions, keyless ``ema.ewma`` and
``ema.exponential_smoothing`` their affine ``mapInPandas`` scan.

1. bucket rows into time-quantile partitions (:func:`quantile_buckets`),
   then ONE hash exchange on ``__pid`` + sort within partitions +
   ``__mid``, the row number over the total order. ``__pid`` being
   VALUE-derived (not ``spark_partition_id`` over a range exchange) is
   load-bearing: HashPartitioning(__pid) is exactly the
   ClusteredDistribution every later window/aggregate requires, so they
   all reuse this one exchange — the r7 layout's range partitioning
   satisfied none of them and Catalyst silently re-shuffled the full
   data per pass (ADVICE r7);
2. the caller's step computes per-row state WITHIN each bucket (no
   cross-partition traffic), persisted once (``pipeline._cache``) so
   both phases below read it instead of re-executing the layout;
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
one partition. Every merge kind below is an associative combine, so
per-partition parallelism never changes results (up to the usual float
fold association, which tests compare rounded).

Merge kinds: ``sum`` (count/sum — type-preserving, null = empty),
``min``/``max`` (null-skipping least/greatest), ``product``, ``last``
(latest non-null wins; partition order = (time, tie_break) so the
carry is the previous partitions' last), ``concat`` (ordered array
concatenation, earlier partitions first), ``affine`` (state
``struct(L, T)``: a partition maps the value E entering it to
``L + E·exp(−T)``, as E_i = d_i E_{i-1} + c_i does with L the scan from
zero state and T the cumulative −ln d).
"""

from __future__ import annotations

from typing import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..pipeline import _cache
from ..timeseries import row_order, time_ns_expr

__all__ = ["keyless_cumulative", "quantile_buckets"]

#: (name, builder(df, over) -> Column, merge_kind)
CumItem = tuple[str, Callable[[DataFrame, Callable[[Column], Column]], Column], str]

#: carry folds of the kinds whose SQL aggregate is the merge itself
_FOLDS = {"sum": F.sum, "min": F.min, "max": F.max, "product": F.product,
          "last": lambda c: F.last(c, ignorenulls=True)}
_KINDS = (*_FOLDS, "concat", "affine")

#: an affine bucket whose decay exponent T reaches this decays its
#: carry-in to exactly 0.0 (exp(-T) is far below any significant
#: digit of L by then)
_AFFINE_T_MAX = 700.0


def quantile_buckets(df: DataFrame, tns: Column, p: int) -> tuple[Column, int]:
    """``__pid`` as a VALUE-derived time bucket over a ``__tns`` column:
    approx-quantile boundaries of ``tns`` over ``df`` (one sampling
    pass), then the number of boundaries ``<=`` the row's time, found by
    a balanced tree of ``CASE WHEN`` comparisons (log2 P deep, all in
    whole-stage codegen; an array binary search through a higher-order
    function cost ~5x more per row). Equal timestamps share a bucket,
    a null time lands in bucket 0, and a re-planned run puts every row
    in the same bucket. Returns (pid column, bucket count)."""
    err = 1.0 / max(p * 8, 64)
    # p <= 1: no boundaries — approxQuantile rejects an empty
    # probability list (an NPE under shuffle.partitions=1)
    bounds = [] if p <= 1 else sorted(set(
        df.select(tns.alias("__tns"))
        .approxQuantile("__tns", [i / p for i in range(1, p)], err)))

    def count_le(lo: int, hi: int) -> Column:
        if lo >= hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return (F.when(F.col("__tns") >= F.lit(bounds[mid]),
                       count_le(mid + 1, hi))
                .otherwise(count_le(lo, mid)))

    return count_le(0, len(bounds)), len(bounds) + 1


def _carry(kind: str, c: Column, w: Window) -> Column:
    """Fold the FINAL states ``c`` of the buckets in frame ``w`` (the
    strictly preceding buckets, in bucket order) into the carry for the
    next bucket."""
    if kind in _FOLDS:
        return _FOLDS[kind](c).over(w)
    # the window applies to collect_list itself, which skips null
    # partials (all-null buckets carry nothing) and keeps bucket order
    states = F.collect_list(c).over(w)
    if kind == "concat":
        return F.flatten(states)
    return F.aggregate(  # affine: E <- L_q + E * exp(-T_q), q ascending
        states, F.lit(0.0),
        lambda e, s: s["L"] + e * F.when(s["T"] < _AFFINE_T_MAX,
                                         F.exp(-s["T"])).otherwise(0.0))


def _carried(ends: DataFrame, kinds: Mapping[str, str]) -> DataFrame:
    """Per bucket of the P-row table ``ends`` (``__pid`` plus one final
    state ``__cs_<name>`` per ``kinds`` entry): the carry into it,
    ``__carry_<name>``, folded over the strictly preceding buckets."""
    w_prev = (Window.orderBy("__pid")
              .rowsBetween(Window.unboundedPreceding, -1))
    return ends.select(
        "__pid", *[_carry(k, F.col(f"__cs_{n}"), w_prev).alias(f"__carry_{n}")
                   for n, k in kinds.items()])


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
    # affine: exp(-T) underflowing to 0.0 far from the carry origin is
    # the mathematically correct decay, not an error
    return cs["L"] + carry * F.exp(-cs["T"])


def _engine(df: DataFrame, kinds: Mapping[str, str],
            step: Callable[[DataFrame, DataFrame], DataFrame],
            render: Callable[[dict[str, Column]], dict[str, Column]],
            tie_break: Sequence[str] = (),
            num_partitions: int | None = None,
            keep_layout: bool = False) -> DataFrame:
    """The two-phase prefix plan. ``step(layout, buckets)`` returns
    ``layout`` (sorted by ``__pid`` then the engine's row order over
    ``__tns`` and ``tie_break``) plus one within-bucket state column
    ``__cs_<name>`` per ``kinds`` entry (name -> merge kind);
    ``buckets`` is the unshuffled input with the same
    ``__tns``/``__pid``, for P-row side aggregates that must not read
    the layout twice. The other parameters are as in
    :func:`keyless_cumulative`."""
    for kind in kinds.values():
        if kind not in _KINDS:
            raise ValueError(f"unknown merge kind {kind!r} (one of {_KINDS})")
    data_cols = [c for c in df.columns if not c.startswith("__")]
    layout_cols = ["__tns", "__pid", "__mid"]
    if "__pid" in df.columns:
        laid = buckets = df
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
        pid, n_buckets = quantile_buckets(df, tns, p)
        # 4x partitions per distinct pid: hashing ~P pid values into P
        # partitions pigeonholes ~1/e of tasks empty and piles 2-4
        # buckets on others; the wider exchange keeps max-load ~1 and
        # every downstream window still reuses HashPartitioning(__pid).
        #
        # __mid is row_number() over the engine's total row order, not a
        # monotonically increasing id: a recompute then reproduces the
        # same (row, __mid) multiset, and the persisted state stays
        # substitutable — a nondeterministic expression canonicalizes
        # as never-equal once self-join deduplication clones a branch,
        # and both branches then silently recomputed the layout (r8).
        order = row_order(df, F.col("__tns"), tie_break)
        buckets = df.withColumn("__tns", tns).withColumn("__pid", pid)
        laid = (buckets.repartition(4 * n_buckets, "__pid")
                .sortWithinPartitions("__pid", *order)
                .withColumn("__mid", F.row_number().over(
                    Window.partitionBy("__pid").orderBy(*order))))

    stated = _cache.persist(step(laid, buckets))
    # P-row partials: each bucket's state at its FINAL row
    partials = (stated.groupBy("__pid")
                .agg(*[F.max_by(F.col(f"__cs_{n}"), F.col("__mid"))
                       .alias(f"__cs_{n}") for n in kinds]))
    joined = stated.join(F.broadcast(_carried(partials, kinds)), "__pid",
                         "left")
    state = {n: _merge(k, F.col(f"__cs_{n}"), F.col(f"__carry_{n}"))
             for n, k in kinds.items()}
    outs = render(state)
    keep = data_cols + (layout_cols if keep_layout else [])
    result = joined.select(*keep, *[c.alias(n) for n, c in outs.items()])
    return _cache.hold(result, stated)


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

    Rows scan in the engine's row order (``timeseries.row_order``;
    callers append their value columns to ``tie_break``), the
    single-window route's order, so every output is a function of the
    data alone, whatever the layout or cache state. Equal timestamps
    never straddle partitions (``__pid`` is a pure function of the
    time value), so a tie group is always merged by one
    within-partition window.

    ``keep_layout=True`` returns the engine's layout columns
    (``__tns``/``__pid``/``__mid``) alongside the outputs so a second
    pass (e.g. the running-min-of-prefix-sum stage of keyless CUSUM)
    can reuse the SAME shuffle: a frame that still carries ``__pid``
    skips repartitioning entirely — its second pass costs one more
    tiny partials job, zero data exchanges. The persisted state is
    retained under ``pipeline._cache``'s policy.
    """
    w_in = (Window.partitionBy("__pid")
            .orderBy("__tns", *[F.col(c) for c in tie_break], "__mid")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    over = lambda c: c.over(w_in)  # noqa: E731

    def window(laid: DataFrame, buckets: DataFrame) -> DataFrame:
        # ONE withColumns projection -> one WindowExec for every state col
        return laid.withColumns(
            {f"__cs_{n}": fn(df, over) for n, fn, _ in items})

    return _engine(df, {n: k for n, _, k in items}, window, render,
                   tie_break=tie_break, num_partitions=num_partitions,
                   keep_layout=keep_layout)
