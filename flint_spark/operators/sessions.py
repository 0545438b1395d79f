"""Sessionization: split per-key event streams on inactivity gaps.

Batch analogue of Structured Streaming's ``session_window`` (which
``flint_spark.streaming`` uses for the streaming path): a lag +
conditional-cumsum over one keyed window — one shuffle, O(n) scan.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..timeseries import (TIME_COLUMN, parse_duration_ns, row_order,
                          time_ns_expr)


def sessionize(df: DataFrame, gap: str | int = "30m",
               key: Sequence[str] = ()) -> DataFrame:
    """Adds ``session_id`` (0-based per key), new session when the gap
    from the previous event exceeds ``gap``."""
    gap_ns = parse_duration_ns(gap)
    key = list(key)
    w = Window.partitionBy(*key).orderBy(*row_order(df, skip=key))
    tns = time_ns_expr(df)
    prev = F.lag(tns).over(w)
    new_sess = F.when(prev.isNull() | ((tns - prev) > F.lit(gap_ns)), 1).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("session_id", (F.sum(new_sess).over(cum) - 1).cast("long"))


def session_stats(df: DataFrame, gap: str | int = "30m",
                  key: Sequence[str] = ()) -> DataFrame:
    """One row per session: start/end time, event count, duration seconds."""
    key = list(key)
    s = sessionize(df, gap, key)
    tns = time_ns_expr(s)
    return (
        s.groupBy(*key, "session_id")
        .agg(
            F.min(TIME_COLUMN).alias("session_start"),
            F.max(TIME_COLUMN).alias("session_end"),
            F.count("*").alias("n_events"),
            ((F.max(tns) - F.min(tns)) / F.lit(1_000_000_000.0)).alias("duration_s"),
        )
    )


def funnel(df: DataFrame, steps: Sequence[str],
           event_col: str = "event_type",
           key: Sequence[str] = ("user_id",)) -> DataFrame:
    """Strict-order funnel conversion: per ``key``, the earliest
    completion path through ``steps`` — ``step<i>_time`` is the
    earliest event matching ``steps[i]`` STRICTLY after the chosen
    step i-1 (step 1 earliest overall), plus ``n_steps`` reached and
    ``converted``. Without a completion window the greedy
    earliest-first walk is optimal (taking any later candidate can
    only delay later steps), so this IS the max-conversion assignment,
    and the DuckDB oracle replays it as chained min-after CTEs.

    Plan: rows not matching any step drop map-side, the per-key walk
    is ONE hash aggregation whose collect_list holds only
    step-matching events, and the walk itself is a pure
    ``F.aggregate`` expression over the sorted struct array — one
    exchange, zero Python. Equal-timestamp events process in step
    order (sort_array ties on the step index); an event can satisfy
    at most one step."""
    steps = list(steps)
    if len(steps) < 2:
        raise ValueError("funnel needs at least 2 steps")
    if len(set(steps)) != len(steps):
        raise ValueError("funnel steps must be distinct")
    key = list(key)
    k = len(steps)
    tns = time_ns_expr(df)
    idx = F.lit(None).cast("int")
    for i, s in reversed(list(enumerate(steps))):
        idx = F.when(F.col(event_col) == F.lit(s), F.lit(i)).otherwise(idx)
    ev = (df.filter(F.col(event_col).isin(steps) & tns.isNotNull())
          .select(*key, F.struct(tns.alias("t"),
                                 idx.alias("i")).alias("e")))
    seq = F.sort_array(F.collect_list("e"))
    init = F.array(*[F.lit(None).cast("long") for _ in range(k)])

    def walk(state, e):
        # fill state[e.i] when unfilled and the previous step's chosen
        # time lies strictly before e.t (element_at is 1-based)
        prev_ok = F.when(e["i"] == 0, F.lit(True)).otherwise(
            F.element_at(state, e["i"]).isNotNull()
            & (F.element_at(state, e["i"]) < e["t"]))
        return F.transform(
            state,
            lambda s, j: F.when((j == e["i"]) & s.isNull() & prev_ok,
                                e["t"]).otherwise(s))

    g = (ev.groupBy(*key).agg(seq.alias("__seq"))
         .withColumn("__ts", F.aggregate(F.col("__seq"), init, walk))
         .drop("__seq"))
    dtype = dict(df.dtypes)[TIME_COLUMN]
    from ..timeseries import ns_to_time_expr

    cols = [ns_to_time_expr(F.element_at("__ts", i + 1), dtype)
            .alias(f"step{i + 1}_time") for i in range(k)]
    n_steps = F.size(F.filter("__ts", lambda t: t.isNotNull()))
    return g.select(*key, *cols, n_steps.alias("n_steps"),
                    (n_steps == k).alias("converted"))


def cohort_retention(df: DataFrame, cohort_width: str | int = "7d",
                     key: Sequence[str] = ("user_id",)) -> DataFrame:
    """Cohort retention matrix: users grouped by their FIRST-activity
    bucket (epoch-aligned ``cohort_width``), counted per activity
    period offset — (cohort_time, period, n_active, n_cohort,
    retention). ``period`` is whole buckets since the cohort bucket
    (period 0 always has n_active == n_cohort by construction).

    Plan: the first-seen time is a running min over the existing
    per-key window partitioning (no user-table join); the distinct
    (key, cohort, period) reduction and the (cohort, period) count
    are two hash aggregations; the period-0 cohort sizes are a
    #cohorts-row table — bounded by the time range over the width,
    broadcastable BY CONSTRUCTION (unlike a per-user table). Null
    times are dropped."""
    key = list(key)
    if not key:
        raise ValueError("cohort_retention needs a user key")
    width = parse_duration_ns(cohort_width)
    if width <= 0:
        raise ValueError("cohort_width must be positive")
    from ..timeseries import floor_div, ns_to_time_expr

    tns = time_ns_expr(df)
    base = df.filter(tns.isNotNull())
    tns = time_ns_expr(base)
    first = F.min(tns).over(Window.partitionBy(*key))
    bucket = floor_div(tns, width)
    cohort = floor_div(first, width)
    active = (base
              .select(*key, (cohort * F.lit(width)).alias("__cns"),
                      (bucket - cohort).cast("long").alias("period"))
              .distinct())
    counts = (active.groupBy("__cns", "period")
              .agg(F.count(F.lit(1)).alias("n_active")))
    sizes = (counts.filter(F.col("period") == 0)
             .select("__cns", F.col("n_active").alias("n_cohort")))
    dtype = dict(df.dtypes)[TIME_COLUMN]
    out = counts.join(F.broadcast(sizes), "__cns")
    return (out.select(ns_to_time_expr(F.col("__cns"), dtype)
                       .alias("cohort_time"),
                       "period", "n_active", "n_cohort",
                       (F.col("n_active").cast("double")
                        / F.col("n_cohort")).alias("retention")))
