"""Price-bar aggregation and drawdown analytics.

The reference's users assemble OHLC bars by composing
``summarizeIntervals`` with min/max/first/last summarizers
(reference ``timeseries/TimeSeriesRDD.scala:1091-1126``,
``Summarizers.scala`` first/last); this module packages the
finance-standard bundle — open / high / low / close / volume /
VWAP / TWAP — as one operator, the way the reference packages
quantile or OLS.

Scale design (100 TB posture):

- ``ohlc_bars`` without TWAP is ONE partial+final hash aggregation —
  open/close ride ``min_by``/``max_by`` over the engine's row order
  as a struct (``timeseries.row_order``: time, tie_break..., price,
  other columns), so every bar column is a
  mergeable monoid and the map side pre-aggregates before the single
  shuffle.
- With TWAP the holding-interval ``lead`` window partitions by
  (key, bucket) — NOT a global or key-only window — so it scales
  even keyless, and the following bar aggregation's
  ClusteredDistribution on the same (key, bucket) is already
  satisfied: still ONE data exchange total (the merge_intervals
  partitioning-reuse recipe). The aggregation groups in the window's
  own (key, bucket) order, so its sort-based form reuses the window's
  sort: ONE sort total.
- ``drawdown``/``max_drawdown`` are one running-max window per key
  plus an aggregation that reuses the window's hash partitioning:
  one exchange.

Conventions (documented, oracle-pinned):

- Buckets are epoch-aligned ``[k*width, (k+1)*width)`` (the rollup
  family's inclusion=begin / rounding=begin convention); buckets with
  no ticks produce no bar (no fill/carry across buckets).
- Rows with a null price are dropped before bar math (a tick without
  a price is not a trade); null volumes count 0 toward volume/VWAP.
- TWAP holds each tick's price from its timestamp to the next tick
  in the SAME bucket (ties broken by the row order), the
  last tick holding to bucket end. Equal-timestamp ties give the
  earlier-ordered tick zero holding weight.
- ``max_drawdown`` is ``max((peak - v) / peak)`` over the running
  peak; null while the running peak is <= 0 (drawdown of a
  non-positive equity curve is undefined).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..timeseries import (TIME_COLUMN, floor_div, ns_to_time_expr,
                          parse_duration_ns, row_order, time_ns_expr)
from . import _route

_BUCKET = "__bar_bucket"
_HOLD = "__bar_hold"


def bar_aggs(price: Column, ord_: Column,
             volume_col: str | None) -> list[Column]:
    """The OHLCV aggregate list — every column a mergeable monoid
    (min_by/max_by over the deterministic order struct), shared by the
    batch operator and the streaming twin so the two can never drift."""
    aggs = [
        F.min_by(price, ord_).alias("open"),
        F.max(price).alias("high"),
        F.min(price).alias("low"),
        F.max_by(price, ord_).alias("close"),
        F.count(F.lit(1)).alias("n"),
    ]
    if volume_col is not None:
        vol = F.coalesce(F.col(volume_col).cast("double"), F.lit(0.0))
        sv = F.sum(vol)
        aggs += [sv.alias("volume"),
                 F.when(sv != 0, F.sum(price * vol) / sv).alias("vwap")]
    return aggs


def ohlc_bars(df: DataFrame, interval: str | int, price_col: str,
              key: Sequence[str] = (), volume_col: str | None = None,
              tie_break: Sequence[str] = (),
              twap: bool = False) -> DataFrame:
    """One row per (epoch-aligned ``interval`` bucket [, ``key``]) with
    ``open high low close n`` plus ``volume``/``vwap`` when
    ``volume_col`` is given and ``twap`` when requested. ``time`` is
    the bucket begin."""
    key = list(key)
    width = parse_duration_ns(interval)
    if width <= 0:
        raise ValueError("interval must be positive")
    dtype = dict(df.dtypes)[TIME_COLUMN]
    price = F.col(price_col)
    tns = time_ns_expr(df)
    base = (df.filter(price.isNotNull())
              .withColumn(_BUCKET, floor_div(tns, width) * F.lit(width)))
    ord_ = F.struct(*row_order(base, tie_break=tie_break,
                               values=[price_col], skip=key))
    aggs = bar_aggs(price, ord_, volume_col)
    if twap:
        # holding weight: next tick in the SAME bucket (or bucket end).
        # Equivalent to a global next-tick clipped to bucket end, but
        # partitions by (key, bucket) so the window is bounded and the
        # bar aggregation reuses its exchange.
        w = Window.partitionBy(*key, _BUCKET).orderBy(ord_)
        nxt = F.coalesce(F.lead(time_ns_expr(base)).over(w),
                         F.col(_BUCKET) + F.lit(width))
        base = base.withColumn(_HOLD, (nxt - time_ns_expr(base)).cast("double"))
        aggs.append((F.sum(price * F.col(_HOLD)) / F.sum(_HOLD)).alias("twap"))
    out = base.groupBy(*key, _BUCKET).agg(*aggs)
    out = out.withColumn(TIME_COLUMN, ns_to_time_expr(F.col(_BUCKET), dtype))
    names = [a for a in ("open", "high", "low", "close", "n", "volume",
                         "vwap", "twap") if a in out.columns]
    return out.select(TIME_COLUMN, *key, *names)


def drawdown(df: DataFrame, value_col: str, key: Sequence[str] = (),
             tie_break: Sequence[str] = (),
             distributed: bool | None = None) -> DataFrame:
    """Per-row running peak and fractional drawdown of ``value_col``
    over time (the cumulative ``addSummaryColumns`` shape): adds
    ``peak`` and ``drawdown``. One window scan per key; null rows
    pass through with null peak/drawdown contribution skipped by the
    running max. KEYLESS input auto-routes through the distributed
    prefix engine (running max is a mergeable monoid —
    ``operators.prefix``) instead of a single-partition window;
    ``distributed`` as in ``left_join``."""
    key = list(key)
    if not key and _route.keyless_distributed(
            lambda: _route.estimated_bytes(df), distributed):
        from .prefix import keyless_cumulative

        def render(st):
            peak = st["peak"]
            dd = F.when(peak > 0, (peak - F.col(value_col)) / peak)
            return {"peak": peak, "drawdown": dd}

        return keyless_cumulative(
            df, [("peak", lambda d, o: o(F.max(F.col(value_col))), "max")],
            render, tie_break=[*tie_break, value_col])
    w = (Window.partitionBy(*key)
               .orderBy(*row_order(df, tie_break=tie_break,
                                   values=[value_col], skip=key))
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    peak = F.max(F.col(value_col)).over(w)
    dd = F.when(peak > 0, (peak - F.col(value_col)) / peak)
    return df.withColumn("peak", peak).withColumn("drawdown", dd)


def max_drawdown(df: DataFrame, value_col: str,
                 key: Sequence[str] = (),
                 tie_break: Sequence[str] = (),
                 distributed: bool | None = None) -> DataFrame:
    """Per ``key``: the peak value and the maximum fractional drawdown
    of the series. The aggregation's ClusteredDistribution on ``key``
    is satisfied by the window's partitioning — one exchange total.
    Keyless input rides :func:`drawdown`'s distributed prefix route
    plus one partial+final aggregation."""
    key = list(key)
    per_row = drawdown(df, value_col, key, tie_break, distributed=distributed)
    return (per_row.groupBy(*key)
            .agg(F.max(F.col(value_col)).alias("peak"),
                 F.max("drawdown").alias("max_drawdown"),
                 F.count(F.col(value_col)).alias("n")))


def merge_bars(bars: DataFrame, interval: str | int,
               key: Sequence[str] = ()) -> DataFrame:
    """Re-aggregate fine bars into coarser epoch-aligned bars WITHOUT
    rescanning raw ticks — the continuous-aggregate story for the bar
    family (``build_rollup``'s mergeable-partials argument): open is
    the earliest fine bar's open (min_by on bar time), close the
    latest's, high/low/n/volume fold as max/min/sum, and VWAP
    recombines EXACTLY as sum(vwap*volume)/sum(volume). The coarse
    ``interval`` must be a whole multiple of the fine bars' spacing
    for the bucketing to nest (the caller's contract, same as
    ``rollup_to``). TWAP deliberately does not merge: a fine bar's
    last tick holds only to the FINE bucket end, so recombining spans
    disagrees with a direct coarse TWAP whenever an interior fine
    bucket is empty — recompute from ticks when TWAP is needed
    coarse. One partial+final aggregation."""
    key = list(key)
    width = parse_duration_ns(interval)
    if width <= 0:
        raise ValueError("interval must be positive")
    dtype = dict(bars.dtypes)[TIME_COLUMN]
    tns = time_ns_expr(bars)
    b = bars.withColumn(_BUCKET, floor_div(tns, width) * F.lit(width))
    ord_ = F.struct(time_ns_expr(b))
    aggs = [
        F.min_by(F.col("open"), ord_).alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by(F.col("close"), ord_).alias("close"),
        F.sum("n").alias("n"),
    ]
    if "volume" in bars.columns:
        sv = F.sum("volume")
        aggs.append(sv.alias("volume"))
        if "vwap" in bars.columns:
            aggs.append(F.when(sv != 0, F.sum(F.col("vwap")
                                              * F.col("volume")) / sv)
                        .alias("vwap"))
    out = b.groupBy(_BUCKET, *key).agg(*aggs)
    out = out.withColumn(TIME_COLUMN, ns_to_time_expr(F.col(_BUCKET), dtype))
    names = [c for c in ("open", "high", "low", "close", "n",
                         "volume", "vwap") if c in out.columns]
    return out.select(TIME_COLUMN, *key, *names)


def realized_volatility(df: DataFrame, interval: str | int,
                        price_col: str, key: Sequence[str] = (),
                        tie_break: Sequence[str] = ()) -> DataFrame:
    """Per-bucket realized variance/volatility from tick log-returns:
    ``r_i = ln(p_i / p_{i-1})`` over the per-key tick sequence, then
    per epoch-aligned bucket ``rv = Σ r², vol = sqrt(rv), n_returns``
    — the high-frequency RV estimator (returns crossing a bucket
    boundary are charged to the bucket of their LATER tick, the
    standard convention; annualization is the caller's scaling).

    Conventions: null or non-positive prices are dropped before
    return math (ln undefined); each key's first tick yields no
    return; buckets with no returns produce no row.

    Plan: one ``lag`` window per key + the bucket aggregation whose
    ClusteredDistribution on (key, bucket) is satisfied by the
    window's key partitioning — ONE data exchange total (the
    ``ohlc_bars`` TWAP recipe). Keyless input uses a single-partition
    window: pass a key at scale (documented, the drawdown stance)."""
    key = list(key)
    width = parse_duration_ns(interval)
    if width <= 0:
        raise ValueError("interval must be positive")
    dtype = dict(df.dtypes)[TIME_COLUMN]
    price = F.col(price_col)
    # NaN > 0 is TRUE in Spark — without the isnan guard one NaN tick
    # poisons its bucket's rv to NaN (and diverges from the streaming
    # twin, which drops the NaN returns)
    base = df.filter(price.isNotNull() & (price > 0)
                     & ~F.isnan(price.cast("double")))
    w = Window.partitionBy(*key).orderBy(F.struct(*row_order(
        base, tie_break=tie_break, values=[price_col], skip=key)))
    r = F.log(price / F.lag(price).over(w))
    base = (base.withColumn("__r", r)
            .withColumn(_BUCKET,
                        floor_div(time_ns_expr(base), width)
                        * F.lit(width))
            .filter(F.col("__r").isNotNull()))
    out = (base.groupBy(_BUCKET, *key)
           .agg(F.sum(F.col("__r") * F.col("__r")).alias("rv"),
                F.count(F.lit(1)).alias("n_returns")))
    out = (out.withColumn("vol", F.sqrt(F.col("rv")))
           .withColumn(TIME_COLUMN, ns_to_time_expr(F.col(_BUCKET), dtype)))
    return out.select(TIME_COLUMN, *key, "rv", "vol", "n_returns")


def bar_range_volatility(bars: DataFrame) -> DataFrame:
    """Range-based per-bar volatility estimators from OHLC columns
    (map-only over :func:`ohlc_bars`/:func:`merge_bars` output —
    composition, not rescan): Parkinson ``ln(H/L)² / (4 ln 2)`` and
    Garman-Klass ``0.5 ln(H/L)² - (2 ln 2 - 1) ln(C/O)²``, both
    per-bar VARIANCE estimates (sqrt for vol, scale by bars/period to
    annualize). Null when the bar's range is degenerate (any of
    O/H/L/C non-positive — both estimators assume positive prices);
    single-tick bars legitimately yield 0. Adds ``parkinson``,
    ``garman_klass``."""
    import math as _math

    for c in ("open", "high", "low", "close"):
        if c not in bars.columns:
            raise ValueError(f"bars must carry '{c}' (ohlc_bars output)")
    o, h, l, c = (F.col(n) for n in ("open", "high", "low", "close"))
    ok = (o > 0) & (h > 0) & (l > 0) & (c > 0)
    hl = F.log(h / l)
    co = F.log(c / o)
    park = hl * hl / F.lit(4.0 * _math.log(2.0))
    gk = F.lit(0.5) * hl * hl - F.lit(2.0 * _math.log(2.0) - 1.0) * co * co
    return (bars.withColumn("parkinson", F.when(ok, park))
            .withColumn("garman_klass", F.when(ok, gk)))


def volume_bars(df: DataFrame, threshold: float, price_col: str,
                volume_col: str, key: Sequence[str] = (),
                tie_break: Sequence[str] = (),
                distributed: bool | None = None) -> DataFrame:
    """Information-driven bars on the VOLUME clock: per key in time
    order, ``bar_seq = floor(cumulative volume BEFORE the row /
    threshold)`` — a bar closes as soon as accumulated volume reaches
    ``threshold``, so active periods produce many bars and quiet
    periods few (the volume/dollar-bar family; pass a
    ``price*volume`` column as ``volume_col`` for dollar bars).

    Plan: ONE running-sum window per key + the OHLCV aggregation on
    (key, bar_seq), whose ClusteredDistribution is satisfied by the
    window's HashPartitioning — one data exchange total (the
    merge_intervals partitioning-reuse recipe). The exclusive prefix
    sum (``sum - current``) makes the FIRST row of every key open bar
    0 regardless of its own volume, and both engines fold the engine's
    row order (time, tie_break, price, ...) left-to-right, so bar
    boundaries replay bitwise. Null prices are dropped (not trades); null
    volumes count 0 but the tick still lands in a bar. ``time`` is
    the bar's first tick time. KEYLESS input auto-routes the running
    volume sum through the distributed prefix engine (``distributed``
    as in ``left_join``) — same row order, but the engine merges
    per-partition float partial sums, so the association of float
    addition differs from the single window's
    strict left fold: route identity is exact only when the volume
    sums are exactly representable (integer-valued volumes — the
    oracle gate's shape); a cumulative float volume within an ulp of
    a threshold multiple can flip its ``floor`` bar boundary between
    routes (ADVICE r7). Quantize volumes first when bitwise route
    identity matters."""
    key = list(key)
    if not float(threshold) > 0:
        raise ValueError("threshold must be positive")
    dtype = dict(df.dtypes)[TIME_COLUMN]
    price = F.col(price_col)
    base = df.filter(price.isNotNull())
    tns = time_ns_expr(base)
    ord_ = F.struct(*row_order(base, tns, tie_break, [price_col], skip=key))
    vol = F.coalesce(F.col(volume_col).cast("double"), F.lit(0.0))
    if not key and _route.keyless_distributed(
            lambda: _route.estimated_bytes(base), distributed):
        from .prefix import keyless_cumulative

        base = keyless_cumulative(
            base, [("cumv", lambda d, o: o(F.sum(vol)), "sum")],
            lambda st: {"__bar": F.floor((st["cumv"] - vol)
                                         / F.lit(float(threshold)))
                        .cast("long")},
            tie_break=[*tie_break, price_col])
    else:
        w = (Window.partitionBy(*key).orderBy(ord_)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        before = F.sum(vol).over(w) - vol
        base = base.withColumn(
            "__bar", F.floor(before / F.lit(float(threshold))).cast("long"))
    out = (base.groupBy(*key, "__bar")
           .agg(F.min(tns).alias("__tns"),
                *bar_aggs(price, ord_, volume_col)))
    out = (out.select(ns_to_time_expr(F.col("__tns"), dtype)
                      .alias(TIME_COLUMN),
                      *key, F.col("__bar").alias("bar_seq"),
                      "open", "high", "low", "close", "n",
                      "volume", "vwap"))
    # the keyless engine frame is a local here: hold its persisted
    # state on the returned frame
    from ..pipeline._cache import hold

    return hold(out, base)
