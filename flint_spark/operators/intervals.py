"""Interval operators — assign rows to clock-tick intervals, then group.

Reference: ``rdd/function/group/Intervalize.scala:46-143`` — binary
search over a driver-broadcast clock array, with a 2×2
``inclusion``×``rounding`` semantic matrix:

- inclusion="begin": intervals ``[t_i, t_{i+1})``; "end": ``(t_i, t_{i+1}]``
- rounding="begin": output time = interval begin tick; "end": end tick
- rows outside the clock's [first, last] range are dropped (a row exactly
  on the last tick is dropped under inclusion="begin", and a row exactly
  on the first tick is dropped under inclusion="end").

Two physical strategies, chosen by clock type:
- ``UniformClock`` → pure integer arithmetic (floor/ceil over ns), fully
  codegen'd, no broadcast, no UDF — the 100 TB fast path;
- arbitrary tick DataFrame → collect+broadcast the tick array (the
  reference does the same, warning above ~16.8 MB), cut the data to the
  clock's range with a plain time predicate, then vectorized
  ``np.searchsorted`` in an Arrow-batched pandas UDF.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..clocks import UniformClock
from ..summarizers import Summarizer
from ..timeseries import TIME_COLUMN, floor_div, ns_to_time_expr, time_ns_expr
from . import _route

_INTERVAL = "__interval_ns"


def _uniform_interval_expr(df: DataFrame, clock: UniformClock, inclusion: str,
                           rounding: str) -> Column:
    """Arithmetic bucketing for uniform clocks; returns rounded tick ns or null."""
    b = clock.begin_ns + clock.offset_ns
    f = clock.frequency_ns
    span = clock.end_ns - b
    m = span // f  # index of last tick
    if not clock.end_inclusive and span % f == 0:
        m -= 1
    t = time_ns_expr(df)
    r = t - F.lit(b)
    if inclusion == "begin":
        valid = (r >= 0) & (r < F.lit(m * f))
        idx = floor_div(r, f)
    else:  # inclusion == "end" -> interval (c_i, c_{i+1}]
        valid = (r > 0) & (r <= F.lit(m * f))
        idx = floor_div(r - F.lit(1), f)  # == ceil(r/f) - 1 for r > 0
    if rounding == "begin":
        tick = F.lit(b) + idx * F.lit(f)
    else:
        tick = F.lit(b) + (idx + 1) * F.lit(f)
    return F.when(valid, tick.cast("long"))


# collect untrimmed clocks up to this many ticks (8 MB of int64); above
# it, pay one columnar min/max scan of the data to bound the broadcast
_TRIM_TICK_THRESHOLD = 1_000_000


def _clock_ticks_ns(clock_df: DataFrame,
                    data_df: DataFrame | None = None) -> np.ndarray:
    """Driver-collect the clock, trimmed to the data's time range when
    the clock is large (reference trims before collecting,
    ``Intervalize.scala:113-127``, to keep the broadcast bounded).

    A clock 10x wider than the data would otherwise broadcast 10x the
    ticks; here ticks strictly outside [max tick <= data_min,
    min tick >= data_max] are dropped — the two enclosing boundary
    ticks are kept so edge intervals survive. The data min/max is one
    memoized aggregate over the time column only (``_route.span``); it is only
    paid when the clock exceeds ``_TRIM_TICK_THRESHOLD`` ticks, so small
    clocks never trigger a data pass."""
    t = time_ns_expr(clock_df, TIME_COLUMN).alias("t")
    # a null tick is no tick: collected as int64 it would read as the
    # int64 minimum and open an interval in 1677
    ticks_df = clock_df.select(t).filter(F.col("t").isNotNull())
    # cheap size probe: small clocks pay one limited count, not a full
    # count + a second materialization (ADVICE r2)
    is_large = (data_df is not None and
                ticks_df.limit(_TRIM_TICK_THRESHOLD + 1).count()
                > _TRIM_TICK_THRESHOLD)
    if is_large:
        ticks_df = ticks_df.persist()
        got = _route.span(data_df)
        if got is not None:
            lo, hi = got
            # STRICT enclosing ticks: a data point exactly on a kept
            # boundary tick must still see its neighbor tick beyond it,
            # or its validity under the inclusion rule would change
            enclosing = ticks_df.agg(
                F.max(F.when(F.col("t") < F.lit(lo), F.col("t"))).alias("lo_t"),
                F.min(F.when(F.col("t") > F.lit(hi), F.col("t"))).alias("hi_t"),
            ).first()
            lo_t = enclosing["lo_t"] if enclosing["lo_t"] is not None else lo
            hi_t = enclosing["hi_t"] if enclosing["hi_t"] is not None else hi
            trimmed = ticks_df.filter(
                (F.col("t") >= F.lit(lo_t)) & (F.col("t") <= F.lit(hi_t)))
            arr = np.sort(trimmed.toPandas()["t"].to_numpy(dtype=np.int64))
            ticks_df.unpersist()
            return arr
    ticks = ticks_df.toPandas()["t"]
    arr = np.sort(ticks.to_numpy(dtype=np.int64))
    if is_large:
        ticks_df.unpersist()
    return arr


def _searchsorted_interval_expr(df: DataFrame, ticks: np.ndarray, inclusion: str,
                                rounding: str) -> Column:
    """Arbitrary-clock lookup: O(log c) vectorized ``np.searchsorted``
    inside an Arrow-batched pandas UDF over an explicitly broadcast
    tick array. Data never moves to the driver. ``df`` must already be
    cut to the clock's range (:func:`intervalize`), so every row has an
    interval."""
    bticks = df.sparkSession.sparkContext.broadcast(ticks)
    # interval index shift: begin tick (0) or end tick (1)
    shift = int(rounding == "end")

    # marked non-deterministic (it isn't) so Catalyst never copies it
    # into a pushed-down filter on the output: one evaluation per row
    @F.pandas_udf(T.LongType())
    def bucket(t: pd.Series) -> pd.Series:
        arr = bticks.value
        tv = t.to_numpy(dtype=np.int64)
        if inclusion == "begin":  # [t_i, t_{i+1}): i = ub(t) - 1
            i = np.searchsorted(arr, tv, side="right") - 1
        else:  # (t_i, t_{i+1}]: i = lb(t) - 1
            i = np.searchsorted(arr, tv, side="left") - 1
        return pd.Series(arr[i + shift], dtype="int64")

    return bucket.asNondeterministic()(time_ns_expr(df))


def intervalize(df: DataFrame, clock, inclusion: str = "begin",
                rounding: str = "end") -> DataFrame:
    if inclusion not in ("begin", "end") or rounding not in ("begin", "end"):
        raise ValueError("inclusion/rounding must be 'begin' or 'end'")
    if isinstance(clock, UniformClock):
        expr = _uniform_interval_expr(df, clock, inclusion, rounding)
        return (df.withColumn(_INTERVAL, expr)
                .filter(F.col(_INTERVAL).isNotNull()))
    ticks = _clock_ticks_ns(clock, data_df=df)
    if len(ticks) < 2:  # fewer than two ticks define no interval
        return (df.filter(F.lit(False))
                .withColumn(_INTERVAL, F.lit(None).cast("long")))
    # the clock's range as a plain predicate on the time column, applied
    # before the lookup: out-of-range rows never reach Python, and on a
    # long-ns column the parquet scan prunes on it
    t = time_ns_expr(df)
    first, last = F.lit(int(ticks[0])), F.lit(int(ticks[-1]))
    if inclusion == "begin":
        in_range = (t >= first) & (t < last)
    else:
        in_range = (t > first) & (t <= last)
    cut = df.filter(in_range)
    return cut.withColumn(
        _INTERVAL, _searchsorted_interval_expr(cut, ticks, inclusion, rounding))


def _interval_time_col(df: DataFrame) -> Column:
    dtype = dict(df.dtypes)[TIME_COLUMN]
    return ns_to_time_expr(F.col(_INTERVAL), dtype)


def summarize_intervals(df: DataFrame, clock, summarizer: Summarizer,
                        key: Sequence[str] = (), inclusion: str = "begin",
                        rounding: str = "end") -> DataFrame:
    """Aggregate rows per clock interval
    (reference ``timeseries/TimeSeriesRDD.scala:1091-1126``)."""
    key = list(key)
    bucketed = intervalize(df, clock, inclusion, rounding)
    out = (
        bucketed.groupBy(_INTERVAL, *key)
        .agg(*summarizer.exprs(df))
        .withColumn(TIME_COLUMN, _interval_time_col(bucketed))
    )
    return out.select(TIME_COLUMN, *key, *[out[n] for n in summarizer.names])


def group_by_interval(df: DataFrame, clock, key: Sequence[str] = (),
                      inclusion: str = "begin", rounding: str = "end") -> DataFrame:
    key = list(key)
    bucketed = intervalize(df, clock, inclusion, rounding)
    members = F.sort_array(F.collect_list(F.struct(*[F.col(c) for c in df.columns])))
    return (
        bucketed.groupBy(_INTERVAL, *key)
        .agg(members.alias("rows"))
        .withColumn(TIME_COLUMN, _interval_time_col(bucketed))
        .select(TIME_COLUMN, *key, "rows")
    )


def summarize_intervals_multi(df: DataFrame, granularities: Sequence[str],
                              summarizer: Summarizer,
                              key: Sequence[str] = ()) -> DataFrame:
    """Hypertable-style multi-granularity rollup: aggregate the SAME
    scan into several interval resolutions (e.g. 1h + 1d + 7d) in ONE
    pass via GROUPING SETS — one shuffle total, vs one full
    scan+shuffle per granularity when looping ``summarize_intervals``.

    Each output row carries ``granularity`` (the duration string) and
    ``time`` (that granularity's bucket begin, inclusion=begin /
    rounding=begin semantics, epoch-aligned like a UniformClock at
    offset 0). Catalyst expands the grouping sets map-side, so the
    shuffled data is (sets x rows) pre-aggregated partials."""
    from ..timeseries import parse_duration_ns

    key = list(key)
    gcols = []
    for g in granularities:
        f = parse_duration_ns(g)
        tns = time_ns_expr(df)
        bucket = ns_to_time_expr(floor_div(tns, f) * F.lit(f),
                                 dict(df.dtypes)[TIME_COLUMN])
        name = f"__g_{g}"
        df = df.withColumn(name, bucket)
        gcols.append(name)
    sets = [[g] + key for g in gcols]
    agg = df.groupingSets(sets, *gcols, *key).agg(*summarizer.exprs(df))
    # each output row belongs to exactly one set: its non-null __g col
    gran = None
    time_col = None
    for g, name in zip(granularities, gcols):
        cond = F.col(name).isNotNull()
        gran = F.when(cond, F.lit(g)) if gran is None else gran.when(cond, F.lit(g))
        time_col = F.when(cond, F.col(name)) if time_col is None else \
            time_col.when(cond, F.col(name))
    out = agg.select(gran.alias("granularity"), time_col.alias(TIME_COLUMN),
                     *key, *[agg[n] for n in summarizer.names])
    return out


# ----------------------------------------------------------------------
# incremental (continuous-aggregate) rollups
# ----------------------------------------------------------------------

#: reaggregable partial statistics kept per (bucket, key, measure)
_PARTIAL_FIELDS = ("cnt", "sum", "sumsq", "min", "max")


def partial_aggs(measures: Sequence[str]) -> "list[Column]":
    """The monoid partial-struct aggregation list shared by the batch
    builder and ``ts_stream.build_rollup_stream`` — one definition, so
    the stream-partials-feed-``rollup_to`` schema contract cannot
    drift."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for m in measures:
        c = F.col(m)
        aggs.append(F.struct(
            F.count(c).alias("cnt"),
            F.sum(c).alias("sum"),
            F.sum(c * c).alias("sumsq"),
            F.min(c).alias("min"),
            F.max(c).alias("max"),
        ).alias(f"{m}_partial"))
    return aggs


def build_rollup(df: DataFrame, freq: str,
                 measures: Sequence[str], key: Sequence[str] = (),
                 hist: "dict[str, Sequence[float]] | None" = None,
                 approx_distinct: Sequence[str] = ()) -> DataFrame:
    """Materialize a hypertable-style CONTINUOUS-AGGREGATE partial table:
    one row per (epoch-aligned ``freq`` bucket [, key]) carrying, for
    each measure, the reaggregable partials (count, sum, sum-of-squares,
    min, max) as a struct ``<m>_partial``, plus ``n_rows``.

    The partials form a commutative monoid (the reference's summarizer
    ``merge()`` contract, ``rdd/.../Summarizer.scala:25-73``), so any
    COARSER granularity — or an incremental refresh that unions freshly
    built buckets with the stored table — re-aggregates from this table
    alone via :func:`rollup_to`, never rescanning the raw data. At
    100 TB the partial table is smaller by ~rows/bucket and a refresh
    touches only new buckets: the classic continuous-aggregate posture.
    One scan, one hash-agg exchange; null measures are skipped per
    measure (count is per-measure, matching null-skipping aggs).

    ``hist`` optionally maps a measure to fixed bin edges: the bucket
    row then also carries ``<m>_hist``, a struct of per-bin counts
    (``under``, ``b0..b{n-2}``, ``over`` — same [lo, hi) semantics as
    ``summarizers.histogram``). Counts are integers, so histograms
    merge EXACTLY at any coarser granularity, giving rollup-resident
    distribution shape + approx quantiles (:func:`rollup_quantile`)
    that a sum/min/max partial alone cannot answer.

    ``approx_distinct`` columns each add ``<c>_hll``, a binary
    Datasketches HLL sketch (``hll_sketch_agg``). Sketches are
    register-max mergeable (``hll_union_agg`` in :func:`rollup_to`),
    so distinct-count estimates — the one common rollup statistic
    additive partials CANNOT answer — survive coarsening; rendered by
    :func:`rollup_finalize` as ``<c>_approx_distinct``."""
    from ..timeseries import parse_duration_ns

    f = parse_duration_ns(freq)
    key = list(key)
    tns = time_ns_expr(df)
    bucket = ns_to_time_expr(floor_div(tns, f) * F.lit(f),
                             dict(df.dtypes)[TIME_COLUMN])
    aggs = partial_aggs(measures)
    for m, bins in (hist or {}).items():
        c = F.col(m)
        fields = [F.count(F.when(c < bins[0], 1)).alias("under")]
        for i in range(len(bins) - 1):
            lo, hi = bins[i], bins[i + 1]
            fields.append(F.count(F.when((c >= lo) & (c < hi), 1))
                          .alias(f"b{i}"))
        fields.append(F.count(F.when(c >= bins[-1], 1)).alias("over"))
        aggs.append(F.struct(*fields).alias(f"{m}_hist"))
    for c in approx_distinct:
        aggs.append(F.hll_sketch_agg(F.col(c)).alias(f"{c}_hll"))
    return (df.withColumn(TIME_COLUMN, bucket)
            .groupBy(TIME_COLUMN, *key).agg(*aggs))


def rollup_to(rollup: DataFrame, freq: str,
              measures: "Sequence[str] | None" = None,
              key: Sequence[str] = (),
              from_freq: "str | None" = None) -> DataFrame:
    """Re-aggregate a :func:`build_rollup` partial table to a COARSER
    granularity. ``freq`` must be an INTEGER MULTIPLE of the build
    granularity — only then is every coarse bucket a union of build
    buckets (90m over 1h partials is coarser and epoch-aligned yet
    silently wrong: partials straddling a 90m boundary land whole in
    one bucket). Pass the build granularity as ``from_freq`` to have
    the multiple validated. Merges the monoid partials: counts/sums
    add, min/min, max/max; histogram structs by per-bin integer
    addition. Emits the same partial-struct schema, so rollups chain
    (1m -> 1h -> 1d)."""
    from ..timeseries import parse_duration_ns

    f = parse_duration_ns(freq)
    if from_freq is not None:
        fine = parse_duration_ns(from_freq)
        if f % fine != 0:
            raise ValueError(
                f"target granularity {freq!r} is not an integer multiple "
                f"of the build granularity {from_freq!r}; coarse buckets "
                f"would not be unions of build buckets")
    key = list(key)
    if measures is None:   # auto-discover from the partial schema
        measures = [c[: -len("_partial")] for c in rollup.columns
                    if c.endswith("_partial")]
    tns = time_ns_expr(rollup)
    bucket = ns_to_time_expr(floor_div(tns, f) * F.lit(f),
                             dict(rollup.dtypes)[TIME_COLUMN])
    aggs = [F.sum("n_rows").alias("n_rows")]
    for m in measures:
        p = f"{m}_partial"
        aggs.append(F.struct(
            F.sum(F.col(f"{p}.cnt")).alias("cnt"),
            F.sum(F.col(f"{p}.sum")).alias("sum"),
            F.sum(F.col(f"{p}.sumsq")).alias("sumsq"),
            F.min(F.col(f"{p}.min")).alias("min"),
            F.max(F.col(f"{p}.max")).alias("max"),
        ).alias(p))
    # hist/HLL partials merge for every column carrying them — their
    # measures need not appear in ``measures`` (a histogram may be
    # built for a column with no sum/min/max partial)
    for h in rollup.columns:
        if h.endswith("_hist"):
            hf = next(x for x in rollup.schema.fields if x.name == h)
            aggs.append(F.struct(
                *[F.sum(F.col(f"{h}.{sub.name}")).alias(sub.name)
                  for sub in hf.dataType.fields]).alias(h))
        elif h.endswith("_hll"):
            aggs.append(F.hll_union_agg(F.col(h)).alias(h))
    return (rollup.withColumn(TIME_COLUMN, bucket)
            .groupBy(TIME_COLUMN, *key).agg(*aggs))


def rollup_quantile(rollup: DataFrame, measure: str,
                    bins: Sequence[float], p: float) -> Column:
    """Approximate p-quantile Column derived from a :func:`build_rollup`
    histogram partial: locate the bin where the cumulative count crosses
    ``p * total`` and linearly interpolate within its [lo, hi) edges —
    resolution bounded by bin width, computable at ANY rollup
    granularity without touching raw data. Underflow/overflow clamp to
    the first/last edge (the histogram does not know their extent)."""
    h = f"{measure}_hist"
    names = (["under"] + [f"b{i}" for i in range(len(bins) - 1)] + ["over"])
    counts = [F.col(f"{h}.{n}").cast("double") for n in names]
    total = sum(counts[1:], counts[0])
    target = F.lit(p) * total
    # walk bins accumulating counts; first crossing wins via coalesce.
    # An empty histogram (all-NULL measure in the bucket) has no
    # quantile — return NULL, not an invented bins[0]
    acc = counts[0]
    result = F.when(total == 0, F.lit(None).cast("double")) \
        .when(target <= acc, F.lit(float(bins[0])))
    for i in range(len(bins) - 1):
        lo, hi = float(bins[i]), float(bins[i + 1])
        c = counts[i + 1]
        frac = F.when(c > 0, (target - acc) / c).otherwise(F.lit(0.0))
        result = result.when(target <= acc + c,
                             F.lit(lo) + frac * F.lit(hi - lo))
        acc = acc + c
    return result.otherwise(F.lit(float(bins[-1])))


def rollup_finalize(rollup: DataFrame,
                    measures: "Sequence[str] | None" = None) -> DataFrame:
    """Render a partial table to user-facing statistics: per measure
    ``<m>_count/_sum/_min/_max/_mean/_std`` (population std via the
    ``sqrt(E[x^2]-E[x]^2)`` closed form over the exact partial sums);
    HLL partials render as ``<c>_approx_distinct``."""
    if measures is None:
        measures = [c[: -len("_partial")] for c in rollup.columns
                    if c.endswith("_partial")]
    cols = [F.col(c) for c in rollup.columns
            if not c.endswith("_partial") and not c.endswith("_hll")]
    cols += [F.hll_sketch_estimate(F.col(c)).alias(
        f"{c[:-4]}_approx_distinct")
        for c in rollup.columns if c.endswith("_hll")]
    for m in measures:
        p = f"{m}_partial"
        cnt = F.col(f"{p}.cnt")
        s = F.col(f"{p}.sum")
        sq = F.col(f"{p}.sumsq")
        mean = s / cnt
        cols += [
            cnt.alias(f"{m}_count"), s.alias(f"{m}_sum"),
            F.col(f"{p}.min").alias(f"{m}_min"),
            F.col(f"{p}.max").alias(f"{m}_max"),
            mean.alias(f"{m}_mean"),
            # guard cnt=0: greatest() skips NULLs, so the unguarded form
            # renders 0.0 variance for a bucket with zero observations
            F.when(cnt > 0,
                   F.sqrt(F.greatest(sq / cnt - mean * mean, F.lit(0.0))))
            .alias(f"{m}_std"),
        ]
    return rollup.select(*cols)



def _sorted_intervals(df: DataFrame, begin_col: str, end_col: str,
                      key: Sequence[str]):
    """Shared prologue of the islands pair (:func:`merge_intervals` /
    :func:`interval_gaps`): ns-normalized bounds, degenerate/null
    intervals dropped, and the keyed begin/end sort window — ONE
    definition so the complement pair cannot desynchronize."""
    from pyspark.sql import Window

    t = (df.withColumn("__b", time_ns_expr(df, begin_col))
         .withColumn("__e", time_ns_expr(df, end_col))
         .filter(F.col("__e") > F.col("__b")))
    w = Window.partitionBy(*key).orderBy("__b", "__e") if key else \
        Window.partitionBy(F.lit(1)).orderBy("__b", "__e")
    return t, w


def merge_intervals(df: DataFrame, begin_col: str = "begin",
                    end_col: str = "end", key: Sequence[str] = (),
                    merge_adjacent: bool = True) -> DataFrame:
    """Coalesce overlapping (and, by default, touching) intervals per
    key into disjoint islands — the classic gaps-and-islands reduce
    (compacting session/activity/maintenance windows before an
    :func:`~flint_spark.operators.joins.interval_overlap_join`).
    Output: one row per island with ``begin_col`` = min begin,
    ``end_col`` = max end, plus an ``n_merged`` count. Close-open
    convention: with ``merge_adjacent=False``, ``[1,3)+[3,5)`` stay
    separate (they share no instant); default merges them.
    Degenerate (end <= begin) and null intervals are dropped.

    Plan: ONE data exchange total. The running-max/island windows hash
    on ``key`` and the final (key, island) aggregation's
    ClusteredDistribution is already satisfied by that partitioning
    (same-key rows are colocated), so Catalyst plans no second
    exchange."""
    from pyspark.sql import Window

    key = list(key)
    t, w = _sorted_intervals(df, begin_col, end_col, key)
    prev_max = F.max("__e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    gap = (F.col("__b") > prev_max) if merge_adjacent else \
        (F.col("__b") >= prev_max)
    new_island = F.when(prev_max.isNull() | gap, 1).otherwise(0)
    t = t.withColumn("__isl", F.sum(new_island).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    out_b = ns_to_time_expr(F.min("__b"), dict(df.dtypes)[begin_col])
    out_e = ns_to_time_expr(F.max("__e"), dict(df.dtypes)[end_col])
    return (t.groupBy(*key, "__isl")
            .agg(out_b.alias(begin_col), out_e.alias(end_col),
                 F.count(F.lit(1)).alias("n_merged"))
            .drop("__isl"))


def interval_gaps(df: DataFrame, begin_col: str = "begin",
                  end_col: str = "end",
                  key: Sequence[str] = ()) -> DataFrame:
    """Maximal uncovered gaps between a key's intervals — the
    complement of :func:`merge_intervals` (downtime detection,
    coverage holes). A gap ``[cummax_end, next_begin)`` is emitted
    from the LAST row of each island (the only sorted row whose
    running-max end is below the next row's begin), so each gap
    appears exactly once without materializing the islands first.
    Degenerate/null intervals are dropped; leading/trailing
    unbounded regions are not gaps (no span is assumed).

    Plan: ONE data exchange (the key-partitioned sort window); the
    gap filter is a projection over lag/cummax."""
    from pyspark.sql import Window

    key = list(key)
    t, w = _sorted_intervals(df, begin_col, end_col, key)
    cover = F.max("__e").over(w.rowsBetween(Window.unboundedPreceding, 0))
    nxt = F.lead("__b").over(w)
    t = (t.withColumn("__cov", cover).withColumn("__nb", nxt)
         .filter(F.col("__nb") > F.col("__cov")))
    out_b = ns_to_time_expr(F.col("__cov"), dict(df.dtypes)[begin_col])
    out_e = ns_to_time_expr(F.col("__nb"), dict(df.dtypes)[end_col])
    return t.select(*key, out_b.alias(begin_col), out_e.alias(end_col))
