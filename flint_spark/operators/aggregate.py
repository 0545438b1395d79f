"""Whole-table and cumulative aggregation.

``summarize`` — one output row (per key); Spark's partial+final hash
aggregation replaces the reference's depth-2 TreeReduce
(reference ``rdd/function/summarize/Summarize.scala:90-122``, output
time = 0 per ``timeseries/TimeSeriesRDD.scala:1172-1199``).

``add_summary_columns`` — running (cumulative) per-row aggregate,
reference ``Summarizations.scala:51-122``: per-partition partial sums +
scan becomes one ``Window.rowsBetween(unboundedPreceding, currentRow)``.
WindowExec evaluates unbounded-preceding frames incrementally, so this
is O(n) per key, one shuffle on the key.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..summarizers import Summarizer
from ..timeseries import TIME_COLUMN, ns_to_time_expr, row_order
from . import _route


def summarize(df: DataFrame, summarizer: Summarizer, key: Sequence[str] = ()) -> DataFrame:
    key = list(key)
    exprs = summarizer.exprs(df)
    if key:
        out = df.groupBy(*key).agg(*exprs)
    else:
        out = df.groupBy().agg(*exprs)
    # reference sets the output time to 0 for whole-table summaries;
    # item access (not name strings) so names containing '.' resolve
    zero = ns_to_time_expr(F.lit(0).cast("long"), dict(df.dtypes)[TIME_COLUMN])
    return out.select(zero.alias(TIME_COLUMN), *[out[k] for k in key],
                      *[out[n] for n in summarizer.names])


def summarize_state(df: DataFrame, summarizer: Summarizer,
                    key: Sequence[str] = ()) -> DataFrame:
    """Debug surface exposing the raw aggregation state instead of the
    rendered values (reference ``summarizeState``,
    ``timeseries/TimeSeriesRDD.scala:1188-1196`` — "undocumented function
    for the bravest"; it returns key -> raw summarizer state).

    In this expression-compiled engine the monoid state of the moment
    family is its sufficient statistics (count, Σx, Σx², ...), emitted
    here as one plain aggregate row per key — still a single
    partial+final hash aggregation, no extra shuffle vs ``summarize``.
    Summarizers without an explicit state vector fall back to their
    rendered outputs (Catalyst's internal buffer is not exposable)."""
    key = list(key)
    exprs = summarizer.state_exprs(df)
    return df.groupBy(*key).agg(*exprs) if key else df.groupBy().agg(*exprs)


def add_summary_columns(df: DataFrame, summarizer: Summarizer,
                        key: Sequence[str] = (),
                        distributed: bool | None = None,
                        tie_break: Sequence[str] = ()) -> DataFrame:
    """Cumulative aggregate in the engine's row order (time,
    ``tie_break``, the other columns; ``timeseries.row_order``) where
    the reference reads equal times in partition order
    (``Summarizations.scala:51-122``), so every layout and both
    keyless routes give the same rows.

    KEYED input is one window exchange on the key — already
    distributed. KEYLESS input auto-routes through the two-phase
    partition-partials engine (:func:`operators.prefix.keyless_cumulative`
    — the reference ``addSummaryColumns``'s partial-state plan) when the
    Catalyst size estimate exceeds the single-task budget and the
    summarizer carries mergeable cumulative state (``has_cum``; exact
    quantiles don't — their value buffer has no monoid merge).
    ``distributed=True`` forces the engine (raising for non-mergeable
    summarizers), ``False`` pins the single-window plan."""
    key = list(key)
    if not key:
        if distributed is True and not summarizer.has_cum:
            raise ValueError(
                "distributed=True needs a summarizer with mergeable "
                "cumulative state (has_cum); this one buffers values")
        if summarizer.has_cum and _route.keyless_distributed(
                lambda: _route.estimated_bytes(df), distributed):
            return _keyless_distributed_cumulative(df, summarizer, tie_break)
    w = (
        Window.partitionBy(*key)
        .orderBy(*row_order(df, tie_break=tie_break, skip=key))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumns(dict(summarizer.over_exprs(df, w)))


def _keyless_distributed_cumulative(df: DataFrame, summarizer: Summarizer,
                                    tie_break: Sequence[str] = ()) -> DataFrame:
    """Adapter from the Summarizer cum spec to the prefix engine: bind
    the summarizer's mask into each state accumulator and alias the
    rendered outputs with the summarizer's (prefixed) names."""
    from .prefix import keyless_cumulative

    items = [(n, (lambda d, o, fn=fn: fn(d, summarizer._mask, o)), kind)
             for n, fn, kind in summarizer._cum_items]

    def render(state):
        cols = summarizer._cum_render(df, state)
        return dict(zip(summarizer.names, cols))

    return keyless_cumulative(df, items, render, tie_break=tie_break)
