"""Structured Streaming extensions.

The reference is batch-only (no streaming anywhere in its source —
SURVEY §2.9); its interval/cycle semantics are the batch analogues of
streaming tumbling windows. This module is the natural extension path:
the same summarizer expression registry runs under watermarked
streaming aggregation, so a batch pipeline's aggregates move to a
stream without rewriting.

All entry points accept any streaming DataFrame (``spark.readStream``)
with an event-time column.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import _route
from ..pipeline import _cache
from ..summarizers import Summarizer
from ..timeseries import TIME_COLUMN, _order_names, nan_flags, sort_rows


def summarize_intervals_stream(stream: DataFrame, frequency: str,
                               summarizer: Summarizer,
                               key: Sequence[str] = (),
                               watermark: str = "10 minutes",
                               time_column: str = TIME_COLUMN,
                               slide: str | None = None) -> DataFrame:
    """Streaming analogue of ``summarize_intervals`` with a uniform
    clock: watermarked tumbling (or sliding) windows + the same
    summarizer expressions. Late rows beyond the watermark are dropped
    (batch drops rows outside the clock range)."""
    key = list(key)
    win = F.window(F.col(time_column), frequency, slide or frequency)
    out = (stream.withWatermark(time_column, watermark)
           .groupBy(win.alias("interval"), *key)
           .agg(*summarizer.exprs(stream)))
    return out.select(F.col("interval.start").alias(TIME_COLUMN), *key,
                      *[out[n] for n in summarizer.names])


def build_rollup_stream(stream: DataFrame, freq: str,
                        measures: Sequence[str], key: Sequence[str] = (),
                        watermark: str = "10 minutes",
                        time_column: str = TIME_COLUMN) -> DataFrame:
    """Streaming refresh of the continuous-aggregate partial table: the
    incremental half of ``operators.intervals.build_rollup``. Each
    closed watermarked tumbling window appends one partial row with the
    SAME reaggregable struct schema (count/sum/sumsq/min/max +
    ``n_rows``), so the sink table feeds ``rollup_to``/
    ``rollup_finalize``/``rollup_quantile`` unchanged — a stream keeps
    the 1h partials fresh, coarse queries never touch raw data."""
    from ..operators.intervals import partial_aggs
    from ..timeseries import parse_duration_ns

    key = list(key)
    ns = parse_duration_ns(freq)
    if ns % 1_000_000 != 0:
        raise ValueError(f"build_rollup_stream needs a whole-millisecond "
                         f"granularity, got {freq!r} ({ns} ns) — "
                         f"F.window cannot express sub-ms buckets")
    win = F.window(F.col(time_column), f"{ns // 1_000_000} milliseconds")
    out = (stream.withWatermark(time_column, watermark)
           .groupBy(win.alias("interval"), *key).agg(*partial_aggs(measures)))
    return out.select(F.col("interval.start").alias(TIME_COLUMN), *key,
                      "n_rows", *[f"{m}_partial" for m in measures])


def sessionize_stream(stream: DataFrame, gap: str = "30 minutes",
                      key: Sequence[str] = (),
                      watermark: str = "10 minutes",
                      time_column: str = TIME_COLUMN) -> DataFrame:
    """Streaming session aggregation via ``session_window`` (the batch
    twin is ``operators.sessions.session_stats``)."""
    key = list(key)
    return (stream.withWatermark(time_column, watermark)
            .groupBy(F.session_window(F.col(time_column), gap).alias("session"),
                     *key)
            .agg(F.count("*").alias("n_events"))
            .select(F.col("session.start").alias("session_start"),
                    F.col("session.end").alias("session_end"),
                    *key, "n_events"))


def ewma_stream(stream: DataFrame, column: str, key: Sequence[str],
                alpha: float = 0.05, duration_per_period: str = "1d",
                time_column: str = TIME_COLUMN) -> DataFrame:
    """Custom stateful streaming operator: running EWMA per key via
    ``applyInPandasWithState`` — the state carries (last event-time ns,
    running numerator) across triggers, so the stream converges to the
    batch ``operators.ema.ewma`` result when events arrive in order.

    Within a trigger, rows are processed in the batch row order; rows
    that arrive across triggers out of order decay from the stored
    state (the standard streaming tradeoff — use a watermark upstream
    to bound it).
    """
    import math

    import numpy as np
    from pyspark.sql import types as T

    from ..operators.ema import _affine_scan
    from ..timeseries import parse_duration_ns

    lam = -math.log1p(-alpha) / parse_duration_ns(duration_per_period)

    def step(pdf, st):
        # same vectorized block-renormalized scan as the batch engine
        # (operators.ema._affine_scan); the carried state enters as
        # E_{-1} decayed through the cumulative decay of the batch
        last_tns, e = st
        t = pdf["__tns"].to_numpy(dtype=np.int64)
        x = pdf[column].to_numpy(dtype=np.float64)
        (out,) = _decayed_carry_scan(np, _affine_scan, lam,
                                     last_tns, t, [x], [e])
        return ({"__tns": t, column: x, f"{column}_ewma": out},
                (int(t[-1]), float(out[-1])))

    return _keyed_fold(
        _with_tns(stream, time_column), key,
        [T.StructField("__tns", T.LongType()),
         T.StructField(column, T.DoubleType()),
         T.StructField(f"{column}_ewma", T.DoubleType())],
        [T.StructField("last_tns", T.LongType()),
         T.StructField("e", T.DoubleType())],
        (None, 0.0), step, values=[column])


def dedup_stream(stream: DataFrame, subset: Sequence[str],
                 watermark: str = "10 minutes",
                 time_column: str = TIME_COLUMN) -> DataFrame:
    """Streaming exact dedup within the watermark horizon — the
    streaming face of ``pipeline.dedup.exact_duplicate_groups``."""
    return (stream.withWatermark(time_column, watermark)
            .dropDuplicatesWithinWatermark(list(subset)))



def _decayed_carry_scan(np, affine_scan, lam, last_tns, t, arrays,
                        carries):
    """ONE definition of the step/decay/carry scan shared by the
    stateful EWMA-family folds (the batch engine's `_affine_scan`
    plus cross-trigger state): build the per-row decay steps from the
    time gaps (boundary step decays from ``last_tns``), scan each
    contribution vector, and add each carry through the cumulative
    decay. NaN contributions are zeroed first — the ``ewma_native``
    null-skip semantics (a null row decays state and counts in any
    all-ones normalizer, but contributes nothing), and a raw NaN
    would poison the key's state forever. Returns the per-row outputs
    in ``arrays`` order."""
    n = len(t)
    steps = np.empty(n, dtype=np.float64)
    steps[0] = lam * (t[0] - last_tns) if last_tns is not None else 0.0
    steps[1:] = lam * np.diff(t).astype(np.float64)
    with np.errstate(under="ignore"):
        decay = np.exp(-np.cumsum(steps))
    outs = []
    for arr, c0 in zip(arrays, carries):
        out = affine_scan(steps, np.where(np.isnan(arr), 0.0, arr))
        if last_tns is not None and c0 != 0.0:
            out = out + c0 * decay
        outs.append(out)
    return outs


def _trigger_pdf(pd, pdf_iter, names):
    """Materialize a group's ENTIRE trigger into one pandas frame,
    sorted once in the engine's row order over ``names``
    (``timeseries.sort_rows``), so per-row outputs on duplicate
    timestamps match a batch replay whatever the arrival order.

    The rows arrive as Arrow chunks in arbitrary order; folding chunk
    by chunk would break batch parity once a group spans two chunks.
    Memory is O(group rows per trigger)."""
    frames = [p for p in pdf_iter if len(p)]
    if not frames:
        return None
    pdf = frames[0] if len(frames) == 1 else \
        pd.concat(frames, ignore_index=True)
    return sort_rows(pdf, names)


def _keyed_fold(frame: DataFrame, key, fields, state_fields, init, step,
                time="__tns", tie_break=(), values=(),
                key_fields=None) -> DataFrame:
    """The one ``applyInPandasWithState`` protocol behind every stateful
    operator in this module: ``frame`` grouped by ``key``, ``append``
    output mode, no timeout.

    Per group and trigger it assembles the whole trigger in the
    engine's row order over ``time``, ``tie_break``, ``values`` and the
    other columns (:func:`_trigger_pdf`; the batch twin's
    ``timeseries.row_order``) and calls ``step(pdf, st)`` with the
    stored state tuple, or ``init`` for a key without state. ``step``
    returns ``(columns, state)``:

    - ``columns`` (a mapping or frame of the non-key output columns) is
      emitted with the key columns filled in, in output-schema order;
      ``None`` emits nothing;
    - ``state`` replaces the stored state; ``None`` leaves it alone, so
      a key never persists a state it has not observed.

    The output schema is the key fields (of ``frame``, or
    ``key_fields``) followed by ``fields``; the state schema is
    ``state_fields``. Both are frozen once a query checkpoints: a
    restart with a different state schema fails."""
    import pandas as pd
    from pyspark.sql import types as T

    key = list(key)
    out_schema = T.StructType(
        (key_fields or [frame.schema[c] for c in key]) + fields)
    names = out_schema.fieldNames()
    order = _order_names(frame, time, tie_break, values, skip=key)
    frame = frame.withColumns(nan_flags(frame, order))

    def fold(key_vals, pdf_iter, state):
        pdf = _trigger_pdf(pd, pdf_iter, order)
        if pdf is None:
            return
        cols, st = step(pdf, state.get if state.exists else init)
        if st is not None:
            state.update(st)
        if cols is not None:
            res = pd.DataFrame(cols)
            for c, v in zip(key, key_vals):
                res[c] = v
            yield res[names]

    return frame.groupBy(*key).applyInPandasWithState(
        fold, out_schema, T.StructType(state_fields), "append", "NoTimeout")


def _with_tns(df: DataFrame, time_column: str) -> DataFrame:
    """``df`` plus its event time as epoch-ns Long ``__tns``, the time
    axis the folds sort and emit."""
    from ..timeseries import time_ns_expr

    return df.withColumn("__tns", time_ns_expr(df, time_column))


def _nan_to_none(values):
    """NaN -> None per value: Arrow keeps a float NaN as NaN, but the
    batch twins emit SQL NULL."""
    import math

    return [None if math.isnan(v) else float(v) for v in values]


#: driver/broadcast budget for the stream-static dim table — the
#: static-right pattern collects the WHOLE right side to the driver,
#: which is fine for a dim table and fatal for a fact table; refuse
#: loudly instead of OOMing the driver mid-stream
_STATIC_RIGHT_MAX_BYTES = 256 << 20


def _static_right_size_guard(right: DataFrame, cols) -> DataFrame:
    """Refuse an oversized static right side UP FRONT (never as a
    driver OOM or executor broadcast OOM mid-stream): the broadcast
    as-of engine collects the right to the driver and broadcasts it to
    every task. Stats-less plans are PRICED (count + sampled row size)
    instead of warn-and-hoped (r6 verdict item 8). Returns the
    projected frame, persisted when it had to be priced; the caller
    releases it once collected."""
    projected = right.select(*cols)
    est = _route.estimated_bytes(projected)
    if est >= _route.STATS_UNKNOWN:
        # a distributed count (nothing collected) plus a 1000-row
        # sample prices the materialization before paying it. Persist
        # FIRST so the pricing scan and the collect that follows are
        # one evaluation, not two (ADVICE r9) — bounded by the same
        # budget the guard enforces.
        projected = _cache.persist(projected)
        n = projected.count()
        if n == 0:
            est = 0
        else:
            sample = projected.limit(1000).toPandas()
            per_row = max(
                float(sample.memory_usage(index=False, deep=True).sum())
                / max(len(sample), 1), 8.0)
            est = int(n * per_row)
    if est > _STATIC_RIGHT_MAX_BYTES:
        if projected.is_cached:  # never leak the pricing cache of a
            projected.unpersist()  # right side we are REFUSING
        raise ValueError(
            f"stream-static join materializes the entire right side "
            f"(a driver collect, broadcast to every task); its estimate "
            f"{est} bytes exceeds the {_STATIC_RIGHT_MAX_BYTES}-byte "
            f"budget. Pre-aggregate or filter the right side to "
            f"dim-table size, or use the stateful stream-stream as-of "
            f"instead.")
    return projected


def _lastk_plan(left_cols, left_fields, right, key, right_time_column, k):
    """Shared output contract of the last-k join pair: right data
    columns, their ``<col>_lastk`` names, conflict check, and the
    output schema (left fields ++ array fields ++ n_matched)."""
    from pyspark.sql import types as T

    if k < 1:
        raise ValueError("k must be >= 1")
    rdata = [c for c in right.columns
             if c != right_time_column and c not in key]
    out_names = {c: f"{c}_lastk" for c in rdata}
    conflicts = (set(out_names.values()) | {"n_matched"}) & set(left_cols)
    if conflicts:
        raise ValueError(f"conflicting output columns {sorted(conflicts)}")
    reserved = {"__side", "__rtns", "__tns"}
    bad = reserved & (set(left_cols) | set(rdata))
    if bad:
        raise ValueError(f"reserved column names {sorted(bad)}")
    rfields = {f.name: f.dataType for f in right.schema.fields}
    out_schema = T.StructType(
        list(left_fields)
        + [T.StructField(out_names[c], T.ArrayType(rfields[c]))
           for c in rdata]
        + [T.StructField("n_matched", T.IntegerType())])
    return rdata, out_names, out_schema


def _broadcast_asof(stream: DataFrame, right: DataFrame,
                    tolerance: str | int, key: Sequence[str],
                    time_column: str, right_time_column: str,
                    direction: str = "backward",
                    strict_lookahead: bool = False,
                    k: int | None = None) -> DataFrame:
    """The broadcast as-of engine: per row of ``stream`` (batch or
    streaming), the backward or forward match (``k=None``) or the last
    ``k`` rows in [t - tolerance, t] of a SMALL right side, with no
    shuffle of the left. Behind ``operators.asof.left_join_broadcast``
    and ``left_join_topk_broadcast`` and their stream faces
    :func:`asof_join_static` and :func:`topk_join_static`.

    The right side is a SNAPSHOT taken when the plan is built: priced
    (:func:`_static_right_size_guard`), numbered by a dense key id in
    Spark, sorted by (key id, row order) and collected as one Arrow
    table, which is broadcast. The left meets the key ids in Spark — a
    broadcast null-safe join against a driver-built (key, id) table,
    the equality the union plan partitions by — and one scalar Arrow
    UDF, fed only the time and the key id, resolves every row with
    vectorized searchsorteds over the composite
    (key id, time rank) and gathers payloads with Arrow ``take``. No
    key or payload passes through pandas: nullable longs stay exact
    and a NaN key stays apart from a null one. Duplicate (key, time)
    rights resolve to the last row in row order, the union plan's
    max-struct rule."""
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql import types as T

    from ..timeseries import parse_duration_ns, row_order, time_ns_expr

    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    if strict_lookahead and direction != "forward":
        raise ValueError("strict_lookahead requires direction='forward'")
    key = list(key)
    tol = parse_duration_ns(tolerance) if tolerance else 0
    if k is None:
        rdata = [c for c in right.columns
                 if c != right_time_column and c not in key]
        conflicts = set(rdata) & set(stream.columns)
        if conflicts:
            raise ValueError(
                f"conflicting output columns {sorted(conflicts)}")
        # an unmatched row reads null, whatever the right column allows
        out_schema = T.StructType(
            list(stream.schema.fields)
            + [T.StructField(f.name, f.dataType, True)
               for f in right.schema.fields if f.name in rdata])
    else:
        rdata, _, out_schema = _lastk_plan(
            stream.columns, stream.schema.fields, right, key,
            right_time_column, k)
    rk = [f"__rk_{i}" for i in range(len(key))]
    bad = {"__tns", "__kid", "__rtns", "__m", *rk} \
        & {*stream.columns, *rdata}
    if bad:
        raise ValueError(f"reserved column names {sorted(bad)}")

    projected = _static_right_size_guard(right, [
        *[F.col(c).alias(r) for c, r in zip(key, rk)],
        time_ns_expr(right, right_time_column).alias("__rtns"), *rdata])
    kid = (F.dense_rank().over(Window.orderBy(*rk)) - 1 if key
           else F.lit(0))
    # one task, no exchange: a dim table sorts faster than it shuffles
    table = (projected.filter(F.col("__rtns").isNotNull()).coalesce(1)
             .withColumn("__kid", kid.cast("int"))
             .orderBy("__kid", *row_order(projected, "__rtns",
                                          values=rdata))
             .toArrow())
    if projected.is_cached:  # the snapshot is taken
        projected.unpersist()

    # segment g of the sorted right is rows [bounds[g], bounds[g + 1]);
    # a left row with no key id reads the empty segment past the last
    kids = table.column("__kid").to_numpy()
    rt = table.column("__rtns").to_numpy()
    first = (np.flatnonzero(np.diff(kids, prepend=-1)) if key
             else np.zeros(1, np.int64))
    bounds = np.append(first, [len(rt), len(rt)])
    # (key id, time rank) as one sorted int64: a segmented searchsorted
    times = np.unique(rt)
    comp = kids.astype(np.int64) * (len(times) + 1) \
        + np.searchsorted(times, rt)
    payload = [table.column(c).combine_chunks() for c in rdata]

    with_ns = _with_tns(stream, time_column)
    if key:
        ktab = stream.sparkSession.createDataFrame(
            table.select([*rk, "__kid"]).take(first),
            T.StructType([T.StructField(r, right.schema[c].dataType)
                          for c, r in zip(key, rk)]
                         + [T.StructField("__kid", T.IntegerType())]))
        cond = F.col(key[0]).eqNullSafe(F.col(rk[0]))
        for c, r in zip(key[1:], rk[1:]):
            cond = cond & F.col(c).eqNullSafe(F.col(r))
        with_ns = with_ns.join(F.broadcast(ktab), cond, "left")
    # a padding row keeps clipped gathers in range on an empty right
    b = stream.sparkSession.sparkContext.broadcast(
        (np.append(comp, np.iinfo(np.int64).max), bounds, times,
         np.append(rt, 0), payload))
    added = out_schema.fields[len(stream.columns):]

    def lookup(t, g):
        import pyarrow as pa

        compp, bounds, times, rtp, payload = b.value
        comp, nr = compp[:-1], len(rtp) - 1
        n = len(t)
        miss = t.is_null().to_numpy(zero_copy_only=False)
        t = t.fill_null(0).to_numpy()
        g = g.fill_null(-1).to_numpy().astype(np.int64)
        g[miss | (g < 0)] = len(bounds) - 2
        base = g * (len(times) + 1)
        start, end = bounds[g], bounds[g + 1]
        # one past the last right row with time <= t, in g's segment
        hi = np.searchsorted(comp, base + np.searchsorted(
            times, t, side="right"))
        if k is not None:
            lo = np.searchsorted(comp, base + np.searchsorted(
                times, t - tol, side="left"))
            cnt = np.clip(hi - lo, 0, k).astype(np.int32)
            offsets = np.zeros(n + 1, np.int32)
            np.cumsum(cnt, out=offsets[1:])
            row = np.repeat(np.arange(n), cnt)
            # most recent first: hi - 1, hi - 2, ... per row
            flat = pa.array(hi[row] - 1 - (np.arange(offsets[-1])
                                           - offsets[row]))
            cols = [pa.ListArray.from_arrays(pa.array(offsets), p.take(flat))
                    for p in payload] + [pa.array(cnt)]
        else:
            if direction == "backward":
                pos = hi - 1
                ok = pos >= start
                ok &= t - rtp[np.clip(pos, 0, nr)] <= tol
            else:
                # first right row at time >= t (> t when strict), then
                # the last row of its equal-time run
                pos = np.searchsorted(comp, base + np.searchsorted(
                    times, t, side="right" if strict_lookahead else "left"))
                ok = pos < end
                safe = np.clip(pos, 0, nr)
                ok &= rtp[safe] <= t + tol
                pos = np.searchsorted(comp, compp[safe], side="right") - 1
            idx = pa.array(np.clip(pos, 0, None), mask=~ok)
            cols = [p.take(idx) for p in payload]
        return pa.StructArray.from_arrays(cols, [f.name for f in added])

    if not added:  # a right side of key and time only adds nothing
        return stream
    # a scalar Arrow UDF ships only the time and key id to Python; the
    # left's own columns stay in the JVM
    match = F.arrow_udf(lookup, T.StructType(added))(
        F.col("__tns"), F.col("__kid") if key else F.lit(0))
    return with_ns.withColumn("__m", match).select(
        *stream.columns,
        *[F.col("__m").getField(f.name).alias(f.name) for f in added])


def asof_join_static(stream: DataFrame, right: DataFrame,
                     tolerance: str | int = 0, key: Sequence[str] = (),
                     time_column: str = TIME_COLUMN,
                     right_time_column: str = TIME_COLUMN,
                     direction: str = "backward",
                     strict_lookahead: bool = False) -> DataFrame:
    """Streaming as-of enrichment against a STATIC right side (the
    common stream case: tick stream x reference/dimension table).

    The batch engine's union-window as-of (``operators.asof.left_join``)
    needs a global sort, which streaming cannot do; instead this is the
    broadcast as-of engine (:func:`_broadcast_asof`, shared with
    ``operators.asof.left_join_broadcast``): the static side — bounded
    by assumption, like any broadcast dim table — is a SNAPSHOT taken
    when the plan is built, so every micro-batch probes the rows the
    right side held at that moment; rebuild the query to pick up
    changes. Map-only: no shuffle of the stream, no state store.

    Right columns (minus key/time) are appended; rows with no match
    within ``tolerance`` get nulls — backward semantics matching
    ``left_join`` by default; ``direction="forward"`` gives
    ``future_left_join`` semantics (earliest right in [t, t+tol], or
    (t, t+tol] with ``strict_lookahead``) — the static side is fully
    known, so the forward lookup needs no left-row buffering.
    """
    return _broadcast_asof(stream, right, tolerance, key, time_column,
                           right_time_column, direction, strict_lookahead)


def topk_join_static(stream: DataFrame, right: DataFrame, k: int,
                     tolerance: str | int = 0, key: Sequence[str] = (),
                     time_column: str = TIME_COLUMN,
                     right_time_column: str = TIME_COLUMN) -> DataFrame:
    """Streaming last-k enrichment against a STATIC right side: the
    broadcast-table twin of ``operators.asof.left_join_topk`` — per
    stream row, the k most recent static rows in [t - tolerance, t]
    per key as most-recent-first arrays + ``n_matched``. The broadcast
    as-of engine of :func:`asof_join_static` (the same plan-time
    snapshot of the right side; map-only, no shuffle of the stream, no
    state store)."""
    return _broadcast_asof(stream, right, tolerance, key, time_column,
                           right_time_column, k=k)


def _forward_tie_resolve(np, rt, pos, ok):
    """Given forward searchsorted candidates ``pos`` into time array
    ``rt``, move each valid position to the LAST entry of its timestamp
    group — with the buffer sorted by (time, values), that is the batch
    max-struct row for duplicate right timestamps."""
    if not len(rt):
        return pos
    safe = np.clip(pos, None, len(rt) - 1)
    ct = rt[safe]
    resolved = np.searchsorted(rt, ct, side="right") - 1
    return np.where(ok, resolved, pos)


def _merge_right_buffer(np, buf_t, buf_v, r_new, rcols, rtypes):
    """Append new right rows to the buffer in the engine's row order
    over (time, values), the batch max-struct tie rule. Only the
    permutation comes from a (object-typed) pandas frame: a typed one
    re-coerces nullable integers to float64, which an
    ArrayType(LongType) state field silently nulls (``_typed_list``)."""
    import pandas as pd

    cat_t = np.concatenate([buf_t, r_new["__tns"].to_numpy(np.int64)])
    cat_v = {c: list(buf_v[c]) + _typed_list(r_new[c], rtypes[c])
             for c in rcols}
    keys = pd.DataFrame({"__t": cat_t, **{
        c: pd.Series(cat_v[c], dtype=object) for c in rcols}})
    idx = sort_rows(keys, ["__t", *rcols]).index.to_numpy()
    return cat_t[idx], {c: [cat_v[c][i] for i in idx] for c in rcols}


def _typed_list(values, spark_type):
    """Buffer values coerced to match an ArrayType(spark_type) state
    field. The tagged union pads each side's columns with nulls, which
    promotes integer pandas columns to float64 — storing those floats
    into a Long state array silently nulls them (Arrow cast), so
    integral Spark types convert back to int here."""
    import numpy as np
    from pyspark.sql import types as T

    vals = list(values)
    if isinstance(spark_type, (T.ByteType, T.ShortType, T.IntegerType,
                               T.LongType)):
        return [None if v is None or (isinstance(v, float) and np.isnan(v))
                else int(v) for v in vals]
    return vals


def _tagged_union(left: DataFrame, right: DataFrame, key, watermark: str,
                  time_column: str):
    """Shared input/output contract of the stream-stream as-of joins:
    both watermarked sides as (key, ``__tns``, ``__side`` 0=left /
    1=right, left data, right data) with each side's rows null-padding
    the other side's data columns, unioned into one stream. Returns
    ``(union, lcols, rcols, types, key_fields, fields)``: the data
    columns, their Spark types, and the output fields around them (key
    fields from ``left``, then ``__tns`` and the data columns)."""
    from pyspark.sql import types as T

    from ..timeseries import time_ns_expr

    lcols = [c for c in left.columns if c not in key and c != time_column]
    rcols = [c for c in right.columns if c not in key and c != time_column]
    if set(lcols) & set(rcols):
        raise ValueError(f"overlapping data columns {set(lcols) & set(rcols)}; "
                         "rename before joining")
    types = {**{c: left.schema[c].dataType for c in lcols},
             **{c: right.schema[c].dataType for c in rcols}}

    def tagged(df, side):
        return (df.withWatermark(time_column, watermark)
                .select(*key, time_ns_expr(df, time_column).alias("__tns"),
                        F.lit(side).alias("__side"),
                        *[c if c in df.columns else
                          F.lit(None).cast(types[c]).alias(c)
                          for c in lcols + rcols]))

    fields = ([T.StructField("__tns", T.LongType())]
              + [left.schema[c] for c in lcols]
              + [right.schema[c] for c in rcols])
    return (tagged(left, 0).unionByName(tagged(right, 1)), lcols, rcols,
            types, [left.schema[c] for c in key], fields)


def asof_join_stream(left: DataFrame, right: DataFrame,
                     tolerance: str | int, key: Sequence[str],
                     watermark: str = "10 minutes",
                     time_column: str = TIME_COLUMN) -> DataFrame:
    """Stream-stream backward as-of join: enrich each left row with the
    most recent right row (same key) within ``tolerance``.

    Built the same way Spark builds stream-stream equi-joins — buffer
    the right side per key, bounded by the watermark — but with as-of
    semantics Spark's join operator cannot express: both tagged streams
    union into one ``applyInPandasWithState`` group per key whose state
    is the right-row buffer; each micro-batch resolves its left rows
    against buffer+batch via vectorized ``searchsorted`` and evicts
    buffered right rows older than (max event time - tolerance -
    watermark). Rows arriving out of order across micro-batches beyond
    the watermark may miss matches — the standard streaming bound; a
    time-ordered arrival (one micro-batch at a time) reproduces the
    batch ``operators.asof.left_join`` exactly (parity test).

    Output: key cols + ``__tns`` (event ns) + left data cols + right
    data cols (null when no match). Left/right data column names must
    be disjoint.
    """
    import numpy as np
    from pyspark.sql import types as T

    from ..timeseries import parse_duration_ns

    key = list(key)
    tol = parse_duration_ns(tolerance)
    wm_ns = parse_duration_ns(watermark)
    u, lcols, rcols, types, key_fields, fields = _tagged_union(
        left, right, key, watermark, time_column)

    def step(pdf, st):
        buf_t = np.asarray(st[0] or [], dtype=np.int64)
        buf_v = {c: list(st[i + 1] or []) for i, c in enumerate(rcols)}
        res = None
        max_t = int(pdf["__tns"].max())
        if len(buf_t):
            max_t = max(max_t, int(buf_t[-1]))
        r_new = pdf[pdf["__side"] == 1]
        # append new right rows, keep buffer sorted by (time, values)
        # — the batch max-struct tie rule for duplicate timestamps,
        # independent of arrival order across triggers
        if len(r_new):
            buf_t, buf_v = _merge_right_buffer(np, buf_t, buf_v,
                                               r_new, rcols, types)
        l_rows = pdf[pdf["__side"] == 0]
        if len(l_rows):
            t = l_rows["__tns"].to_numpy(np.int64)
            pos = np.searchsorted(buf_t, t, side="right") - 1
            ok = pos >= 0
            ok &= (t - buf_t[np.clip(pos, 0, None)]) <= tol
            res = l_rows[["__tns"] + lcols].copy()
            for c in rcols:
                col = np.full(len(t), None, dtype=object)
                vals = buf_v[c]
                col[ok] = [vals[p] for p in pos[ok]]
                res[c] = col
        # evict right rows no future left row (bounded by watermark) can use
        if len(buf_t):
            keep = buf_t >= max_t - tol - wm_ns
            # always retain the newest row so the next batch has a floor
            if not keep.any():
                keep[-1] = True
            buf_t = buf_t[keep]
            for c in rcols:
                buf_v[c] = [v for v, k in zip(buf_v[c], keep) if k]
        return res, (buf_t.tolist(), *[buf_v[c] for c in rcols])

    return _keyed_fold(
        u, key, fields,
        [T.StructField("rt", T.ArrayType(T.LongType()))]
        + [T.StructField(c, T.ArrayType(types[c])) for c in rcols],
        ([],) * (1 + len(rcols)), step, key_fields=key_fields)


def asof_join_stream_future(left: DataFrame, right: DataFrame,
                            tolerance: str | int, key: Sequence[str],
                            watermark: str = "10 minutes",
                            strict_lookahead: bool = False,
                            time_column: str = TIME_COLUMN) -> DataFrame:
    """Stream-stream FORWARD as-of join: enrich each left row with the
    EARLIEST right row (same key) in ``[t, t + tolerance]`` —
    ``(t, t + tolerance]`` when ``strict_lookahead`` — matching batch
    ``operators.asof.future_left_join``.

    Unlike the backward join, a left row cannot be resolved on arrival:
    its lookahead window only closes once event time passes
    ``t + tolerance + watermark``. So state buffers BOTH sides per key:
    pending left rows emit exactly when their window is closed w.r.t.
    the key's max seen event time (ties resolve like batch
    ``future_left_join``: earliest right time, and among duplicate right
    timestamps the max-struct row — the buffer is kept sorted by (time,
    values) so arrival order never shows); buffered right rows evict once no
    pending or future-arriving left can reach them. Per-key closure is
    conservative — a key that stops receiving rows holds its tail in
    state until more data (the streaming analogue of an open window).

    Output schema matches :func:`asof_join_stream`.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ..timeseries import parse_duration_ns

    key = list(key)
    tol = parse_duration_ns(tolerance)
    wm_ns = parse_duration_ns(watermark)
    u, lcols, rcols, types, key_fields, fields = _tagged_union(
        left, right, key, watermark, time_column)
    side = "right" if strict_lookahead else "left"
    nl = len(lcols)

    def step(pdf, st):
        max_t = int(st[0][0]) if st[0] else None
        pend_t = np.asarray(st[1] or [], dtype=np.int64)
        pend_v = {c: list(st[2 + i] or []) for i, c in enumerate(lcols)}
        buf_t = np.asarray(st[2 + nl] or [], dtype=np.int64)
        buf_v = {c: list(st[3 + nl + i] or []) for i, c in enumerate(rcols)}

        r_new = pdf[pdf["__side"] == 1]
        if len(r_new):
            buf_t, buf_v = _merge_right_buffer(np, buf_t, buf_v,
                                               r_new, rcols, types)
        l_new = pdf[pdf["__side"] == 0]
        if len(l_new):
            all_t = np.concatenate([pend_t,
                                    l_new["__tns"].to_numpy(np.int64)])
            order = np.argsort(all_t, kind="stable")
            for c in lcols:
                vals = list(pend_v[c]) + _typed_list(l_new[c], types[c])
                pend_v[c] = [vals[i] for i in order]
            pend_t = all_t[order]
        bt = int(pdf["__tns"].max())
        max_t = bt if max_t is None else max(max_t, bt)

        res = None
        if len(pend_t):
            closed = pend_t + tol + wm_ns <= max_t
            if closed.any():
                t = pend_t[closed]
                pos = np.searchsorted(buf_t, t, side=side)
                ok = pos < len(buf_t)
                ok &= buf_t[np.clip(pos, None, max(len(buf_t) - 1, 0))] \
                    <= t + tol
                # earliest matching time; max-struct among its duplicates
                # (same rule as batch future_left_join)
                pos = _forward_tie_resolve(np, buf_t, pos, ok)
                res = pd.DataFrame({"__tns": t})
                for c in lcols:
                    vals = pend_v[c]
                    res[c] = [v for v, m in zip(vals, closed) if m]
                for c in rcols:
                    col = np.full(len(t), None, dtype=object)
                    vals = buf_v[c]
                    col[ok] = [vals[p] for p in pos[ok]]
                    res[c] = col
                for c in lcols:
                    pend_v[c] = [v for v, m in zip(pend_v[c], closed) if not m]
                pend_t = pend_t[~closed]
        # rights below every pending left AND below any possible future
        # left (>= max_t - wm) are unreachable in the forward direction
        if len(buf_t):
            cutoff = max_t - wm_ns
            if len(pend_t):
                cutoff = min(cutoff, int(pend_t[0]))
            keep = buf_t >= cutoff
            buf_t = buf_t[keep]
            for c in rcols:
                buf_v[c] = [v for v, k in zip(buf_v[c], keep) if k]
        return res, ([max_t], pend_t.tolist(), *[pend_v[c] for c in lcols],
                     buf_t.tolist(), *[buf_v[c] for c in rcols])

    return _keyed_fold(
        u, key, fields,
        [T.StructField("max_t", T.ArrayType(T.LongType())),
         T.StructField("lt", T.ArrayType(T.LongType()))]
        + [T.StructField(f"l_{c}", T.ArrayType(types[c])) for c in lcols]
        + [T.StructField("rt", T.ArrayType(T.LongType()))]
        + [T.StructField(f"r_{c}", T.ArrayType(types[c])) for c in rcols],
        ([],) * (3 + nl + len(rcols)), step, key_fields=key_fields)


def detect_anomalies_stream(stream: DataFrame, column: str,
                            key: Sequence[str],
                            window: str | int = "1d", k: float = 3.0,
                            min_baseline: int = 5,
                            time_column: str = TIME_COLUMN) -> DataFrame:
    """Streaming twin of ``operators.windows_ops.detect_anomalies``:
    per-key rolling z-score against the trailing [t - window, t)
    baseline (current row and equal-time rows excluded, matching the
    batch range frame), via ``applyInPandasWithState``. State is the
    (time, value) buffer inside the window horizon — trimmed every
    trigger, so memory is bounded by window x arrival rate. The merged
    (buffer + batch) timeline is re-sorted every trigger, so
    cross-batch out-of-order arrival inside the horizon still yields
    the batch baselines; only events older than the already-trimmed
    horizon are lost. Null values are scored null/False and EXCLUDED
    from the baseline buffer — matching the batch avg/stddev/count
    null-skip. Per-row stats are O(1) via prefix sums + searchsorted."""
    import math

    import numpy as np
    from pyspark.sql import types as T

    from ..timeseries import parse_duration_ns

    w_ns = parse_duration_ns(window)

    def step(pdf, st):
        buf_t = np.asarray(st[0] or [], dtype=np.int64)
        buf_v = np.asarray(st[1] or [], dtype=np.float64)
        t_new = pdf["__tns"].to_numpy(np.int64)
        v_new = pdf[column].to_numpy(np.float64)
        # baseline buffer: merged, NaN-free (nulls never contribute
        # to avg/stddev/count in the batch frame), and re-sorted so
        # late arrivals within the horizon land in timeline order
        mt = np.concatenate([buf_t, t_new[~np.isnan(v_new)]])
        mv = np.concatenate([buf_v, v_new[~np.isnan(v_new)]])
        order = np.argsort(mt, kind="stable")
        allt, allv = mt[order], mv[order]
        # prefix sums over the sorted baseline: baseline of a row
        # at time ti = entries in [ti - w, ti) -> O(log) per row
        ps = np.concatenate([[0.0], np.cumsum(allv)])
        ps2 = np.concatenate([[0.0], np.cumsum(allv * allv)])
        lo = np.searchsorted(allt, t_new - w_ns, side="left")
        hi = np.searchsorted(allt, t_new, side="left")
        n = (hi - lo).astype(np.int64)
        z = np.full(len(t_new), np.nan)
        ok = n >= min_baseline
        with np.errstate(invalid="ignore", divide="ignore"):
            sm = ps[hi] - ps[lo]
            sq = ps2[hi] - ps2[lo]
            mean = np.where(n > 0, sm / np.maximum(n, 1), np.nan)
            var = np.where(n > 1,
                           (sq - np.maximum(n, 1) * mean * mean)
                           / np.maximum(n - 1, 1), np.nan)
            sd = np.sqrt(np.maximum(var, 0.0))
            good = ok & (sd > 0)
            z[good] = ((v_new - mean) / sd)[good]
        # trim against the max time SEEN (null-valued rows advance
        # the clock too), not the last buffer entry
        max_seen = int(t_new[-1])
        if len(allt):
            max_seen = max(max_seen, int(allt[-1]))
        keep = allt >= max_seen - w_ns
        return ({"__tns": t_new, column: v_new,
                 f"{column}_zscore": _nan_to_none(z),
                 f"{column}_anomaly": [(not math.isnan(x)) and abs(x) > k
                                       for x in z]},
                (allt[keep].tolist(), allv[keep].tolist()))

    return _keyed_fold(
        _with_tns(stream, time_column), key,
        [T.StructField("__tns", T.LongType()),
         T.StructField(column, T.DoubleType()),
         T.StructField(f"{column}_zscore", T.DoubleType()),
         T.StructField(f"{column}_anomaly", T.BooleanType())],
        [T.StructField("ts", T.ArrayType(T.LongType())),
         T.StructField("vs", T.ArrayType(T.DoubleType()))],
        ([], []), step)


def exponential_smoothing_stream(stream: DataFrame, column: str,
                                 key: Sequence[str], alpha: float = 0.05,
                                 priming_periods: float = 1.0,
                                 duration_per_period: str = "1d",
                                 interpolation: str = "current",
                                 convention: str = "core",
                                 time_column: str = TIME_COLUMN) -> DataFrame:
    """Streaming exponentialSmoothing per key — the stateful twin of
    ``operators.ema.exponential_smoothing`` (full interpolation ×
    convention matrix, priming). Reuses the batch engine's coefficient
    builder and vectorized affine scan; the state carries
    (prev event-time, prev value, primary accumulator, aux accumulator)
    so in-order arrival reproduces the batch result exactly.
    """
    import numpy as np
    from pyspark.sql import types as T

    from ..operators.ema import _affine_scan, _smoothing_coeffs
    from ..timeseries import parse_duration_ns

    period_ns = float(parse_duration_ns(duration_per_period))
    coeff_fn = _smoothing_coeffs(alpha, priming_periods, period_ns,
                                 interpolation, convention)
    divide = convention == "core"

    def step(pdf, st):
        prev_t, prev_x, e, a = st
        t = pdf["__tns"].to_numpy(dtype=np.int64)
        x = pdf[column].to_numpy(dtype=np.float64)
        steps, c, aux_c = coeff_fn(t, x, prev_t, prev_x)
        with np.errstate(under="ignore"):
            decay = np.exp(-np.cumsum(steps))
        evals = _affine_scan(steps, c) + e * decay
        avals = _affine_scan(steps, aux_c) + a * decay
        if divide:
            with np.errstate(divide="ignore", invalid="ignore"):
                out = evals / avals
        else:
            out = evals
        return ({"__tns": t, column: x, f"{column}_ema": out},
                (int(t[-1]), float(x[-1]), float(evals[-1]),
                 float(avals[-1])))

    return _keyed_fold(
        _with_tns(stream, time_column), key,
        [T.StructField("__tns", T.LongType()),
         T.StructField(column, T.DoubleType()),
         T.StructField(f"{column}_ema", T.DoubleType())],
        [T.StructField("prev_t", T.LongType()),
         T.StructField("prev_x", T.DoubleType()),
         T.StructField("e", T.DoubleType()),
         T.StructField("a", T.DoubleType())],
        (None, None, 0.0, 0.0), step, values=[column])


def summarize_windows_stream(stream: DataFrame, window, reducer,
                             out_name: str, key: Sequence[str],
                             value_col: str = "value",
                             watermark: str = "10 minutes",
                             out_type: str = "double",
                             time_column: str = TIME_COLUMN) -> DataFrame:
    """Streaming per-row sliding-window aggregate — the stateful twin of
    ``functions.summarize_windows_udf``: for each arriving row, apply
    ``reducer(pandas_series) -> scalar`` over the values in its past
    window ``[t - w, t]``.

    State buffers (time, value) pairs per key within
    ``window + watermark``; each micro-batch resolves its rows against
    buffer+batch via searchsorted slices and evicts expired entries.
    In-order arrival reproduces the batch operator exactly (parity
    test); rows arriving out of order beyond the watermark may miss
    window members — the standard streaming bound.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ..timeseries import parse_duration_ns
    from ..windows import TimeWindow

    if not isinstance(window, TimeWindow):
        raise TypeError("window must be a TimeWindow")
    lo, hi = window.range_bounds()
    if hi != 0 or lo > 0:
        raise ValueError("streaming supports past windows ([t-w, t]) only")
    w_ns = -lo
    wm_ns = parse_duration_ns(watermark)
    key = list(key)

    def step(pdf, st):
        t = pdf["__tns"].to_numpy(np.int64)
        x = pdf[value_col].to_numpy(np.float64)
        all_t = np.concatenate([np.asarray(st[0] or [], dtype=np.int64), t])
        all_v = np.concatenate([np.asarray(st[1] or [], dtype=np.float64),
                                x])
        order = np.argsort(all_t, kind="stable")
        buf_t, buf_v = all_t[order], all_v[order]
        los = np.searchsorted(buf_t, t - w_ns, side="left")
        his = np.searchsorted(buf_t, t, side="right")
        vals = [reducer(pd.Series(buf_v[lo_:hi_]))
                for lo_, hi_ in zip(los, his)]
        keep = buf_t >= int(buf_t[-1]) - w_ns - wm_ns
        return ({"__tns": t, value_col: x, out_name: vals},
                (buf_t[keep].tolist(), buf_v[keep].tolist()))

    return _keyed_fold(
        _with_tns(stream.withWatermark(time_column, watermark),
                  time_column).select(*key, "__tns", value_col), key,
        [T.StructField("__tns", T.LongType()),
         T.StructField(value_col, stream.schema[value_col].dataType),
         T.StructField(out_name,
                       out_type if isinstance(out_type, T.DataType)
                       else T._parse_datatype_string(out_type))],
        [T.StructField("bt", T.ArrayType(T.LongType())),
         T.StructField("bv", T.ArrayType(T.DoubleType()))],
        ([], []), step)


def rolling_ols_stream(stream: DataFrame, y: str, x: str,
                       key: Sequence[str],
                       window: str | int = "7d",
                       min_samples: int = 3,
                       time_column: str = TIME_COLUMN) -> DataFrame:
    """Streaming twin of ``operators.regression.rolling_ols``: per-key
    closed-form simple OLS (beta/alpha/r2) over the trailing
    ``[t - window, t]`` frame (current and equal-time rows INCLUDED,
    matching the batch rangeBetween(lo, 0)), via
    ``applyInPandasWithState``. State is the (t, x, y) buffer of
    COMPLETE pairs inside the horizon — pairwise masking exactly like
    the batch operator (a row with either side null contributes to no
    sum, but is still scored against its window). The merged buffer is
    re-sorted every trigger, so late in-horizon arrivals converge to
    the batch result for rows scored after they land; per-row sums are
    O(1) via prefix sums + searchsorted (the anomaly-stream recipe)."""
    import numpy as np
    from pyspark.sql import types as T

    from ..timeseries import parse_duration_ns

    w_ns = parse_duration_ns(window)

    def step(pdf, st):
        bt, bx, by = st
        t_new = pdf["__tns"].to_numpy(np.int64)
        x_new = pdf[x].to_numpy(np.float64)
        y_new = pdf[y].to_numpy(np.float64)
        # complete pairs only enter the sums (batch pairwise rule)
        comp = ~np.isnan(x_new) & ~np.isnan(y_new)
        mt = np.concatenate([np.asarray(bt or [], dtype=np.int64),
                             t_new[comp]])
        mx = np.concatenate([np.asarray(bx or [], dtype=np.float64),
                             x_new[comp]])
        my = np.concatenate([np.asarray(by or [], dtype=np.float64),
                             y_new[comp]])
        order = np.argsort(mt, kind="stable")
        allt, allx, ally = mt[order], mx[order], my[order]
        pre = lambda v: np.concatenate([[0.0], np.cumsum(v)])
        psx, psy = pre(allx), pre(ally)
        psxx, psyy = pre(allx * allx), pre(ally * ally)
        psxy = pre(allx * ally)
        lo = np.searchsorted(allt, t_new - w_ns, side="left")
        hi = np.searchsorted(allt, t_new, side="right")
        n = (hi - lo).astype(np.float64)
        with np.errstate(invalid="ignore", divide="ignore"):
            sx = psx[hi] - psx[lo]
            sy = psy[hi] - psy[lo]
            sxx = psxx[hi] - psxx[lo]
            syy = psyy[hi] - psyy[lo]
            sxy = psxy[hi] - psxy[lo]
            det = n * sxx - sx * sx
            ok = (n >= min_samples) & (det > 0)
            beta = np.where(ok, (n * sxy - sx * sy)
                            / np.where(det != 0, det, 1.0), np.nan)
            alpha = np.where(ok, (sy - beta * sx)
                             / np.maximum(n, 1), np.nan)
            deny = n * syy - sy * sy
            r2 = np.where(ok & (deny > 0),
                          (n * sxy - sx * sy) ** 2
                          / (np.where(det != 0, det, 1.0)
                             * np.where(deny != 0, deny, 1.0)),
                          np.nan)
        max_seen = int(t_new[-1])
        if len(allt):
            max_seen = max(max_seen, int(allt[-1]))
        keep = allt >= max_seen - w_ns
        return ({"__tns": t_new, x: x_new, y: y_new,
                 "beta": _nan_to_none(beta), "alpha": _nan_to_none(alpha),
                 "r2": _nan_to_none(r2)},
                (allt[keep].tolist(), allx[keep].tolist(),
                 ally[keep].tolist()))

    return _keyed_fold(
        _with_tns(stream, time_column), key,
        [T.StructField("__tns", T.LongType()),
         T.StructField(x, T.DoubleType()),
         T.StructField(y, T.DoubleType()),
         T.StructField("beta", T.DoubleType()),
         T.StructField("alpha", T.DoubleType()),
         T.StructField("r2", T.DoubleType())],
        [T.StructField("ts", T.ArrayType(T.LongType())),
         T.StructField("xs", T.ArrayType(T.DoubleType())),
         T.StructField("ys", T.ArrayType(T.DoubleType()))],
        ([], [], []), step)


def rolling_ols_multi_stream(stream: DataFrame, y: str,
                             xs: Sequence[str], key: Sequence[str],
                             window: str | int = "7d",
                             min_samples: int | None = None,
                             min_rel_det: float = 1e-9,
                             time_column: str = TIME_COLUMN) -> DataFrame:
    """Streaming twin of ``operators.regression.rolling_ols_multi``:
    per-key k-regressor OLS (alpha, beta[], r2) over the trailing
    ``[t - window, t]`` frame via prefix sums of every Gramian product
    over the sorted complete-case state buffer, then stacked
    ``np.linalg.solve`` per micro-batch — the batch operator's two
    stages (windowed sums + batched solve) fused into one stateful
    fold. Same late-arrival (sorted-merge) and complete-case
    contracts as :func:`rolling_ols_stream`; ``min_rel_det`` is the
    batch operator's relative singularity knob, threaded here so a
    non-default batch setting keeps batch/stream parity (r10
    ADVICE)."""
    import numpy as np
    from pyspark.sql import types as T

    from ..timeseries import parse_duration_ns

    xs = list(xs)
    k = len(xs)
    if k == 0:
        raise ValueError("xs must name at least one regressor")
    if min_samples is None:
        min_samples = k + 2
    w_ns = parse_duration_ns(window)
    m = k + 2  # terms: [1, x1..xk, y]

    def step(pdf, st):
        bt = np.asarray(st[0] or [], dtype=np.int64)
        bx = [np.asarray(st[1 + j] or [], dtype=np.float64)
              for j in range(k)]
        by = np.asarray(st[k + 1] or [], dtype=np.float64)
        t_new = pdf["__tns"].to_numpy(np.int64)
        x_new = [pdf[c].to_numpy(np.float64) for c in xs]
        y_new = pdf[y].to_numpy(np.float64)
        comp = ~np.isnan(y_new)
        for xv in x_new:
            comp &= ~np.isnan(xv)
        mt = np.concatenate([bt, t_new[comp]])
        mx = [np.concatenate([bx[j], x_new[j][comp]])
              for j in range(k)]
        my = np.concatenate([by, y_new[comp]])
        order = np.argsort(mt, kind="stable")
        allt = mt[order]
        terms = [np.ones(len(allt))] \
            + [mx[j][order] for j in range(k)] + [my[order]]
        pre = lambda v: np.concatenate([[0.0], np.cumsum(v)])
        ps = {}
        for i in range(m):
            for j in range(i, m):
                ps[(i, j)] = pre(terms[i] * terms[j])
        lo = np.searchsorted(allt, t_new - w_ns, side="left")
        hi = np.searchsorted(allt, t_new, side="right")
        N = len(t_new)
        S = np.zeros((N, m, m))
        for i in range(m):
            for j in range(i, m):
                v = ps[(i, j)][hi] - ps[(i, j)][lo]
                S[:, i, j] = v
                S[:, j, i] = v
        n = S[:, 0, 0]
        A = S[:, :k + 1, :k + 1]
        b = S[:, :k + 1, k + 1]
        syy = S[:, k + 1, k + 1]
        sy = S[:, 0, k + 1]
        with np.errstate(all="ignore"):
            det = np.linalg.det(A)
            # relative Hadamard-scale guard, in lockstep with the
            # batch operator (r10: det != 0 admits cancellation
            # noise and breaks batch/stream parity); shared helper
            # handles diagonal-product overflow in log space
            from ..operators.regression import _rel_det_ok
            ok = (n >= min_samples) & np.isfinite(det) \
                & _rel_det_ok(det, A, min_rel_det)
            coef = np.full((N, k + 1), np.nan)
            if ok.any():
                coef[ok] = np.linalg.solve(A[ok], b[ok])
            sse = syy - np.einsum("np,np->n", coef, b)
            sst = syy - sy * sy / np.maximum(n, 1)
            r2 = np.where(ok & (sst > 0), 1.0 - sse / sst, np.nan)
        cols = {"__tns": t_new, **dict(zip(xs, x_new)), y: y_new,
                "alpha": _nan_to_none(coef[:, 0]),
                "beta": [None if not o else [float(v) for v in row[1:]]
                         for o, row in zip(ok, coef)],
                "r2": _nan_to_none(r2)}
        max_seen = int(t_new[-1])
        if len(allt):
            max_seen = max(max_seen, int(allt[-1]))
        keep = allt >= max_seen - w_ns
        return cols, (allt[keep].tolist(),
                      *[terms[1 + j][keep].tolist() for j in range(k)],
                      terms[k + 1][keep].tolist())

    return _keyed_fold(
        _with_tns(stream, time_column), key,
        [T.StructField("__tns", T.LongType())]
        + [T.StructField(c, T.DoubleType()) for c in xs]
        + [T.StructField(y, T.DoubleType()),
           T.StructField("alpha", T.DoubleType()),
           T.StructField("beta", T.ArrayType(T.DoubleType())),
           T.StructField("r2", T.DoubleType())],
        [T.StructField("ts", T.ArrayType(T.LongType()))]
        + [T.StructField(f"x{j}", T.ArrayType(T.DoubleType()))
           for j in range(k)]
        + [T.StructField("ys", T.ArrayType(T.DoubleType()))],
        ([],) * (k + 2), step)


def token_shift_stream(stream_docs: DataFrame, ref: DataFrame,
                       text_col: str = "text") -> DataFrame:
    """Bounded-state streaming corpus-drift monitor: the live document
    stream's tokens bucket into a STATIC reference vocabulary
    (``pipeline.text.token_shift_reference`` — top-K rows + pooled
    ``__OOV__``) via a broadcast stream-static join, and a streaming
    aggregation keeps one running count per bucket. State is K+1 rows
    REGARDLESS of stream volume (out-of-vocab tokens pool map-side),
    so the monitor runs forever on an unbounded crawl. Write with
    ``outputMode('complete')`` and feed the sink through
    ``pipeline.text.token_shift_finalize(ref, sink)`` for the
    KL/total-variation columns — the identical math as the batch
    :func:`~flint_spark.pipeline.text.token_distribution_shift`, which
    the replay gate pins against the batch oracle."""
    from pyspark.sql import functions as F

    from ..pipeline.text import _words

    vocab = (ref.filter(F.col("w") != "__OOV__")
             .select("w").withColumn("__v", F.lit(1)))
    # ONE tokenization definition (pipeline.text._words) — an inline
    # re-implementation here would silently diverge from the batch
    # operator the replay gate pins against (the shingles principle)
    tok = stream_docs.select(F.explode(_words(text_col)).alias("w"))
    tagged = tok.join(F.broadcast(vocab), "w", "left")
    bucket = F.when(F.col("__v").isNotNull(), F.col("w")) \
        .otherwise(F.lit("__OOV__"))
    return (tagged.select(bucket.alias("w"))
            .groupBy("w").agg(F.count(F.lit(1)).alias("ncnt")))


def ohlc_bars_stream(stream: DataFrame, frequency: str, price_col: str,
                     key: Sequence[str] = (),
                     volume_col: str | None = None,
                     tie_break: Sequence[str] = (),
                     watermark: str = "10 minutes",
                     time_column: str = TIME_COLUMN) -> DataFrame:
    """Streaming twin of :func:`operators.bars.ohlc_bars` (no TWAP —
    the holding-interval ``lead`` is not expressible under streaming
    aggregation): watermarked tumbling windows + the SAME
    ``bar_aggs`` column list as the batch operator, so the two cannot
    drift. Every bar column is a mergeable declarative aggregate
    (min_by/max_by over the deterministic order struct), state is one
    partial row per open (key, window)."""
    from ..operators.bars import bar_aggs
    from ..timeseries import row_order, time_ns_expr

    key = list(key)
    price = F.col(price_col)
    base = stream.filter(price.isNotNull())
    ord_ = F.struct(*row_order(base, time_ns_expr(base, time_column),
                               tie_break, [price_col], skip=key))
    win = F.window(F.col(time_column), frequency)
    out = (base.withWatermark(time_column, watermark)
           .groupBy(win.alias("interval"), *key)
           .agg(*bar_aggs(price, ord_, volume_col)))
    names = [c for c in ("open", "high", "low", "close", "n",
                         "volume", "vwap") if c in out.columns]
    return out.select(F.col("interval.start").alias(TIME_COLUMN), *key,
                      *names)


def cms_build_stream(stream: DataFrame, key_col: str,
                     frequency: str = "1 day",
                     width: int = 1024, depth: int = 4,
                     salt: str = "cms",
                     watermark: str = "10 minutes",
                     time_column: str = TIME_COLUMN) -> DataFrame:
    """Streaming count-min ingestion: one (time, j, bucket, cnt) cell
    row per closed tumbling window — the sketch analogue of
    ``build_rollup_stream``'s partial table. State is bounded at
    ``width x depth`` cells per open window REGARDLESS of stream
    volume or key cardinality (the whole point of sketching a
    stream); closed-window cell tables re-sum into the corpus sketch
    with ``pipeline.sketches.cms_merge`` (drop ``time`` first), and
    the merged table feeds ``cms_estimate`` unchanged — a live
    heavy-hitters monitor over an unbounded stream.

    Cell positions are the same md5 family as the batch build, so a
    replayed stream's merged cells equal ``cms_build`` on the same
    rows bit-for-bit (oracle-gated)."""
    from ..pipeline.sketches import _pos

    key = F.col(key_col).cast("string")
    cells = F.explode(F.array(*[
        F.struct(F.lit(j).alias("j"),
                 _pos(key, j, width, salt).alias("bucket"))
        for j in range(depth)
    ])).alias("cell")
    win = F.window(F.col(time_column), frequency)
    out = (stream.filter(key.isNotNull())
           .select(F.col(time_column), cells)
           .select(time_column, "cell.j", "cell.bucket")
           .withWatermark(time_column, watermark)
           .groupBy(win.alias("interval"), "j", "bucket")
           .agg(F.count(F.lit(1)).alias("cnt")))
    return out.select(F.col("interval.start").alias(TIME_COLUMN),
                      "j", "bucket", "cnt")


def funnel_stream(stream: DataFrame, steps: Sequence[str],
                  event_col: str = "event_type",
                  key: Sequence[str] = ("user_id",),
                  time_column: str = TIME_COLUMN) -> DataFrame:
    """Streaming twin of :func:`operators.sessions.funnel`: per-key
    funnel state advanced by ``applyInPandasWithState`` — state is
    EXACTLY k nullable timestamps per key (the chosen step times),
    bounded regardless of stream volume. Each trigger emits the key's
    current (step times, n_steps, converted) row; the funnel is
    monotone, so the final emission per key is its max-``n_steps``
    row, and a fully in-order replay equals the batch walk (the
    per-trigger chained-min pass is the same greedy assignment).
    Out-of-order arrival across triggers follows the
    ``ewma_stream`` contract: already-fixed earlier steps do not
    reopen. Step times travel as epoch-ns longs."""
    import numpy as np
    from pyspark.sql import types as T

    from ..timeseries import time_ns_expr

    steps = list(steps)
    if len(steps) < 2:
        raise ValueError("funnel needs at least 2 steps")
    key = list(key)
    k = len(steps)
    idx = F.lit(None).cast("int")
    for i, s in reversed(list(enumerate(steps))):
        idx = F.when(F.col(event_col) == F.lit(s), F.lit(i)).otherwise(idx)
    tns = time_ns_expr(stream, time_column)
    ev = (stream.filter(F.col(event_col).isin(steps) & tns.isNotNull())
          .select(*key, tns.alias("__tns"), idx.alias("__i")))

    def step(pdf, st):
        # whole trigger at once: the chained-min pass is monotone and
        # never reopens earlier steps, so running it per Arrow CHUNK
        # loses step-i events that arrive in a chunk before the chunk
        # holding their step-(i-1) predecessor
        ts = list(st)
        t = pdf["__tns"].to_numpy(np.int64)
        si = pdf["__i"].to_numpy(np.int64)
        # chained-min pass in step order (min needs no row sort) —
        # the same greedy assignment as the batch walk for the
        # rows present; an unfilled step leaves every later step
        # unfillable this trigger (checked via ts[i-1])
        for i in range(k):
            if ts[i] is not None:
                continue
            if i == 0:
                cand = t[si == 0]
            elif ts[i - 1] is None:
                break
            else:
                cand = t[(si == i) & (t > ts[i - 1])]
            if len(cand):
                ts[i] = int(cand.min())
        n = sum(1 for v in ts if v is not None)
        row = {f"step{i + 1}_tns": [ts[i]] for i in range(k)}
        row["n_steps"] = np.array([n], dtype=np.int32)
        row["converted"] = [n == k]
        return row, tuple(ts)

    return _keyed_fold(
        ev, key,
        [T.StructField(f"step{i + 1}_tns", T.LongType())
         for i in range(k)]
        + [T.StructField("n_steps", T.IntegerType()),
           T.StructField("converted", T.BooleanType())],
        [T.StructField(f"s{i}", T.LongType()) for i in range(k)],
        (None,) * k, step)


def drawdown_stream(stream: DataFrame, column: str,
                    key: Sequence[str] = (),
                    time_column: str = TIME_COLUMN) -> DataFrame:
    """Streaming twin of :func:`operators.bars.drawdown`: per-key
    running peak + fractional drawdown via ``applyInPandasWithState``
    — state is ONE double per key. Within a trigger rows process in
    event-time order (vectorized ``maximum.accumulate``); null values
    inherit the running peak with a null drawdown, exactly the batch
    null-skip rule. In-order replay equals the batch operator
    (the ``ewma_stream`` contract for late cross-trigger rows)."""
    import numpy as np
    from pyspark.sql import types as T

    if not key:
        raise ValueError("drawdown_stream needs a key")

    def step(pdf, st):
        (peak,) = st
        v = pdf[column].to_numpy(np.float64)
        filled = np.where(np.isnan(v),
                          -np.inf if peak is None else peak, v)
        if peak is not None:
            filled = np.maximum(filled, peak)
        peaks = np.maximum.accumulate(filled)
        if peak is None:
            # rows before the first non-null value have no peak
            seen = np.cumsum(~np.isnan(v)) > 0
            peaks = np.where(seen, peaks, np.nan)
        dd = np.where((peaks > 0) & ~np.isnan(v),
                      (peaks - v) / peaks, np.nan)
        if not np.isnan(peaks[-1]):
            peak = float(peaks[-1])
        return ({"__tns": pdf["__tns"].to_numpy(np.int64),
                 column: _nan_to_none(v), "peak": _nan_to_none(peaks),
                 "drawdown": _nan_to_none(dd)}, (peak,))

    return _keyed_fold(
        _with_tns(stream, time_column), key,
        [T.StructField("__tns", T.LongType()),
         T.StructField(column, T.DoubleType()),
         T.StructField("peak", T.DoubleType()),
         T.StructField("drawdown", T.DoubleType())],
        [T.StructField("peak", T.DoubleType())], (None,), step,
        values=[column])


def ewm_volatility_stream(stream: DataFrame, column: str,
                          key: Sequence[str],
                          alpha: float = 0.05,
                          duration_per_period: str = "1d",
                          time_column: str = TIME_COLUMN) -> DataFrame:
    """Streaming twin of :func:`operators.ema.ewm_volatility`: per-key
    time-decayed mean / population variance / volatility via
    ``applyInPandasWithState`` — state is FOUR doubles per key
    (last event-time ns + the three decayed accumulators Σw·x, Σw·x²,
    Σw). All three accumulators share the batch engine's vectorized
    block-renormalized scan (``operators.ema._affine_scan``) over one
    step vector, so an in-order replay reproduces the batch operator;
    late cross-trigger rows follow the ``ewma_stream`` contract."""
    import math

    import numpy as np
    from pyspark.sql import types as T

    from ..operators.ema import _affine_scan
    from ..timeseries import parse_duration_ns

    lam = -math.log1p(-alpha) / parse_duration_ns(duration_per_period)

    def step(pdf, st):
        last_tns, e, q, a = st
        t = pdf["__tns"].to_numpy(dtype=np.int64)
        x = pdf[column].to_numpy(dtype=np.float64)
        E, Q, A = _decayed_carry_scan(
            np, _affine_scan, lam, last_tns, t,
            [x, x * x, np.ones(len(x))], [e, q, a])
        with np.errstate(invalid="ignore", divide="ignore"):
            mean = E / A
            var = np.maximum(Q / A - mean * mean, 0.0)
        return ({"__tns": t, column: x, f"{column}_ewm_mean": mean,
                 f"{column}_ewm_var": var, f"{column}_ewm_vol": np.sqrt(var)},
                (int(t[-1]), float(E[-1]), float(Q[-1]), float(A[-1])))

    return _keyed_fold(
        _with_tns(stream, time_column), key,
        [T.StructField("__tns", T.LongType()),
         T.StructField(column, T.DoubleType()),
         T.StructField(f"{column}_ewm_mean", T.DoubleType()),
         T.StructField(f"{column}_ewm_var", T.DoubleType()),
         T.StructField(f"{column}_ewm_vol", T.DoubleType())],
        [T.StructField("last_tns", T.LongType()),
         T.StructField("e", T.DoubleType()),
         T.StructField("q", T.DoubleType()),
         T.StructField("a", T.DoubleType())],
        (None, 0.0, 0.0, 0.0), step, values=[column])


def brown_double_smoothing_stream(stream: DataFrame, column: str,
                                  key: Sequence[str],
                                  alpha: float = 0.05,
                                  duration_per_period: str = "1d",
                                  time_column: str = TIME_COLUMN
                                  ) -> DataFrame:
    """Streaming twin of :func:`operators.ema.brown_double_smoothing`:
    per-key DEMA level / per-period trend / one-period forecast via
    ``applyInPandasWithState``. State is FOUR doubles (last t, Σw·x,
    Σw, Σw·s1): the single smooth s1 resolves per row from the first
    decayed scan, then the SAME step vector scans the s1 series for
    the double smooth — both through the shared
    ``_decayed_carry_scan`` (null-skip, block-renormalized), so an
    in-order replay reproduces the batch operator."""
    import math

    import numpy as np
    from pyspark.sql import types as T

    from ..operators.ema import _affine_scan, _check_alpha
    from ..timeseries import parse_duration_ns

    _check_alpha(alpha)
    lam = -math.log1p(-alpha) / parse_duration_ns(duration_per_period)
    ab = alpha / (1.0 - alpha)

    def step(pdf, st):
        last_tns, e1, a, e2 = st
        t = pdf["__tns"].to_numpy(dtype=np.int64)
        x = pdf[column].to_numpy(dtype=np.float64)
        E1, A = _decayed_carry_scan(np, _affine_scan, lam, last_tns,
                                    t, [x, np.ones(len(x))], [e1, a])
        with np.errstate(invalid="ignore", divide="ignore"):
            s1 = E1 / A
        (E2,) = _decayed_carry_scan(np, _affine_scan, lam, last_tns,
                                    t, [s1], [e2])
        with np.errstate(invalid="ignore", divide="ignore"):
            s2 = E2 / A
        level = 2.0 * s1 - s2
        trend = ab * (s1 - s2)
        return ({"__tns": t, column: x, f"{column}_dema_level": level,
                 f"{column}_dema_trend": trend,
                 f"{column}_dema_fcst": level + trend},
                (int(t[-1]), float(E1[-1]), float(A[-1]), float(E2[-1])))

    return _keyed_fold(
        _with_tns(stream, time_column), key,
        [T.StructField("__tns", T.LongType()),
         T.StructField(column, T.DoubleType()),
         T.StructField(f"{column}_dema_level", T.DoubleType()),
         T.StructField(f"{column}_dema_trend", T.DoubleType()),
         T.StructField(f"{column}_dema_fcst", T.DoubleType())],
        [T.StructField("last_tns", T.LongType()),
         T.StructField("e1", T.DoubleType()),
         T.StructField("a", T.DoubleType()),
         T.StructField("e2", T.DoubleType())],
        (None, 0.0, 0.0, 0.0), step, values=[column])


def log_returns_stream(stream: DataFrame, price_col: str,
                       key: Sequence[str],
                       tie_break: Sequence[str] = (),
                       time_column: str = TIME_COLUMN) -> DataFrame:
    """Stateful per-key log-return chain — the streaming front half of
    :func:`operators.bars.realized_volatility`: state is TWO numbers
    per key (last event-time ns, last positive price). Non-positive /
    null / NaN prices drop BEFORE the chain exactly like the batch
    filter (they neither emit nor break the chain); each key's first
    positive tick emits no return. Duplicate timestamps chain in the
    batch row order (time, tie_break..., price, ...), so the squared
    returns match; pass the same ``tie_break`` columns to both. Emits
    (key..., __tns, price, ``<col>_logret``)."""
    import numpy as np
    from pyspark.sql import types as T

    p0 = F.col(price_col)

    def step(pdf, st):
        last_p = st[1]
        t = pdf["__tns"].to_numpy(np.int64)
        p = pdf[price_col].to_numpy(np.float64)
        prev = np.concatenate(
            [[np.nan if last_p is None else last_p], p[:-1]])
        with np.errstate(invalid="ignore", divide="ignore"):
            r = np.log(p / prev)
        return ({"__tns": t, price_col: p,
                 f"{price_col}_logret": _nan_to_none(r)},
                (int(t[-1]), float(p[-1])))

    return _keyed_fold(
        _with_tns(stream.filter(p0.isNotNull() & (p0 > 0)
                                & ~F.isnan(p0.cast("double"))),
                  time_column), key,
        [T.StructField("__tns", T.LongType()),
         T.StructField(price_col, T.DoubleType()),
         T.StructField(f"{price_col}_logret", T.DoubleType())],
        [T.StructField("last_tns", T.LongType()),
         T.StructField("last_p", T.DoubleType())],
        (None, None), step, tie_break=tie_break, values=[price_col])


def realized_volatility_stream(stream: DataFrame, interval: str | int,
                               price_col: str, key: Sequence[str],
                               tie_break: Sequence[str] = (),
                               watermark: str = "10 minutes",
                               time_column: str = TIME_COLUMN
                               ) -> DataFrame:
    """Streaming twin of :func:`operators.bars.realized_volatility`:
    the stateful log-return chain above feeds Spark's OWN watermarked
    tumbling-window aggregation (sum of squared returns is a plain
    mergeable monoid — no custom state needed past the two-number
    chain). ``interval`` uses the SAME duration grammar as the batch
    operator ("1d"/"6h"/int ns — converted to milliseconds for
    ``F.window``). Returns (time = bucket begin, key..., rv, vol,
    n_returns); boundary-crossing returns land in the later tick's
    bucket, matching the batch convention by construction."""
    from ..timeseries import floor_div, parse_duration_ns

    width_ns = parse_duration_ns(interval)
    if width_ns <= 0 or width_ns % 1_000_000:
        raise ValueError("interval must be a positive whole number "
                         "of milliseconds")
    rets = log_returns_stream(stream, price_col, key,
                              tie_break=tie_break,
                              time_column=time_column)
    r = F.col(f"{price_col}_logret")
    # exact integer ns -> µs: (ns / 1000).cast(long) detours through a
    # double whose 53-bit mantissa cannot hold epoch-ns (~1.7e18) —
    # half of all µs-granular timestamps would land 1µs early and the
    # first tick of a bucket would fall into the previous window
    tcol = F.timestamp_micros(floor_div(F.col("__tns"), 1000))
    return (rets.filter(r.isNotNull())
            .withColumn("__t", tcol)
            .withWatermark("__t", watermark)
            .groupBy(F.window("__t",
                              f"{width_ns // 1_000_000} milliseconds")
                     .alias("__w"), *key)
            .agg(F.sum(r * r).alias("rv"),
                 F.count(F.lit(1)).alias("n_returns"))
            .select(F.col("__w.start").alias(time_column), *key,
                    "rv", F.sqrt(F.col("rv")).alias("vol"),
                    "n_returns"))


def ewm_corr_stream(stream: DataFrame, x: str, y: str,
                    key: Sequence[str],
                    alpha: float = 0.05,
                    duration_per_period: str = "1d",
                    min_rel_var: float = 1e-9,
                    time_column: str = TIME_COLUMN) -> DataFrame:
    """Streaming twin of :func:`operators.ema.ewm_corr`: per-key
    time-decayed covariance / correlation / hedge-beta via
    ``applyInPandasWithState`` — state is SEVEN numbers (last t + the
    six decayed sums Σw·x, Σw·y, Σw·x², Σw·y², Σw·xy, Σw). All six
    ride the shared carry scan over one step vector; combine math and
    clamps match the batch operator expression-for-expression
    (including the ``min_rel_var`` relative support guard, threaded
    so a non-default batch setting keeps parity). Rows with either
    side null keep the complete-pair caveat documented on the batch
    operator (each numerator null-skips independently)."""
    import math

    import numpy as np
    from pyspark.sql import types as T

    from ..operators.ema import _affine_scan, _check_alpha
    from ..timeseries import parse_duration_ns

    _check_alpha(alpha)
    lam = -math.log1p(-alpha) / parse_duration_ns(duration_per_period)
    pfx = f"{x}_{y}"

    def step(pdf, st):
        t = pdf["__tns"].to_numpy(dtype=np.int64)
        xv = pdf[x].to_numpy(dtype=np.float64)
        yv = pdf[y].to_numpy(dtype=np.float64)
        arrays = [xv, yv, xv * xv, yv * yv, xv * yv, np.ones(len(t))]
        outs = _decayed_carry_scan(np, _affine_scan, lam, st[0],
                                   t, arrays, list(st[1:]))
        SX, SY, SXX, SYY, SXY, SW = outs
        with np.errstate(invalid="ignore", divide="ignore"):
            ex, ey = SX / SW, SY / SW
            cov = SXY / SW - ex * ey
            vx = np.maximum(SXX / SW - ex * ex, 0.0)
            vy = np.maximum(SYY / SW - ey * ey, 0.0)
            corr = np.clip(cov / np.sqrt(vx * vy), -1.0, 1.0)
            beta = cov / vy
        # relative support guard, in lockstep with batch ewm_corr
        # (r10): variance below min_rel_var of its own second
        # moment is E[x^2]-E[x]^2 cancellation noise; the knob is
        # threaded from the signature so a non-default batch
        # setting keeps batch/stream parity (r10 ADVICE)
        vx_ok = vx > min_rel_var * (SXX / SW)
        vy_ok = vy > min_rel_var * (SYY / SW)
        return ({"__tns": t, x: xv, y: yv, f"{pfx}_ewm_cov": cov,
                 f"{pfx}_ewm_corr": _nan_to_none(
                     np.where(vx_ok & vy_ok, corr, np.nan)),
                 f"{pfx}_ewm_beta": _nan_to_none(
                     np.where(vy_ok, beta, np.nan))},
                (int(t[-1]), *[float(o[-1]) for o in outs]))

    return _keyed_fold(
        _with_tns(stream, time_column), key,
        [T.StructField("__tns", T.LongType()),
         T.StructField(x, T.DoubleType()),
         T.StructField(y, T.DoubleType()),
         T.StructField(f"{pfx}_ewm_cov", T.DoubleType()),
         T.StructField(f"{pfx}_ewm_corr", T.DoubleType()),
         T.StructField(f"{pfx}_ewm_beta", T.DoubleType())],
        [T.StructField("last_tns", T.LongType())]
        + [T.StructField(n, T.DoubleType())
           for n in ("sx", "sy", "sxx", "syy", "sxy", "sw")],
        (None,) + (0.0,) * 6, step, values=[x, y])


def cusum_stream(stream: DataFrame, column: str, key: Sequence[str],
                 k: float = 0.5, h: float = 5.0, *, mu: float,
                 sigma: float,
                 time_column: str = TIME_COLUMN) -> DataFrame:
    """Streaming twin of ``operators.changepoint.cusum`` for the
    classical monitoring setup (known in-control ``mu``/``sigma`` —
    the estimated mode needs the whole series and is batch-only).

    State is four doubles per key: the two prefix sums and their
    running minima — the exact quantities the batch identity
    ``s = c - min(0, running_min(c))`` tracks, so in-order replay
    reproduces the batch operator bitwise. Null values freeze the
    detector (zero contribution) and score null, the EWMA-family
    null-skip contract; duplicate timestamps fold in the batch
    engine's time-then-value order.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if not sigma > 0:
        raise ValueError(f"sigma must be > 0, got {sigma}")

    def step(pdf, st):
        c_up, c_dn, m_up, m_dn = st
        t = pdf["__tns"].to_numpy(dtype=np.int64)
        x = pdf[column].to_numpy(dtype=np.float64)
        obs = ~np.isnan(x)
        z = np.where(obs, (x - mu) / sigma, 0.0)
        cup = c_up + np.cumsum(np.where(obs, z - k, 0.0))
        cdn = c_dn + np.cumsum(np.where(obs, -z - k, 0.0))
        mup = np.minimum(m_up, np.minimum.accumulate(cup))
        mdn = np.minimum(m_dn, np.minimum.accumulate(cdn))
        s_pos = cup - np.minimum(0.0, mup)
        s_neg = cdn - np.minimum(0.0, mdn)
        return ({"__tns": t, column: x,
                 f"{column}_cusum_pos": np.where(obs, s_pos, np.nan),
                 f"{column}_cusum_neg": np.where(obs, s_neg, np.nan),
                 f"{column}_alarm": pd.Series(
                     [bool(p > h or q > h) if o else None
                      for p, q, o in zip(s_pos, s_neg, obs)],
                     dtype=object)},
                (float(cup[-1]), float(cdn[-1]), float(mup[-1]),
                 float(mdn[-1])))

    return _keyed_fold(
        _with_tns(stream, time_column), key,
        [T.StructField("__tns", T.LongType()),
         T.StructField(column, T.DoubleType()),
         T.StructField(f"{column}_cusum_pos", T.DoubleType()),
         T.StructField(f"{column}_cusum_neg", T.DoubleType()),
         T.StructField(f"{column}_alarm", T.BooleanType())],
        [T.StructField("c_up", T.DoubleType()),
         T.StructField("c_dn", T.DoubleType()),
         T.StructField("m_up", T.DoubleType()),
         T.StructField("m_dn", T.DoubleType())],
        (0.0, 0.0, np.inf, np.inf), step, values=[column])


def kalman_stream(stream: DataFrame, column: str, key: Sequence[str],
                  q: float, r: float, period: str | int = "1d",
                  p0: float | None = None,
                  time_column: str = TIME_COLUMN) -> DataFrame:
    """Streaming twin of ``operators.kalman.kalman_local_level``: the
    (last observed time, level, variance) triple is the ENTIRE filter
    state, carried across triggers through the same scan the batch
    engine runs — in-order replay reproduces the batch levels bitwise.
    Null/NaN observations score null and leave the state untouched
    (diffusion measured from the last observed row).

    Late arrival (a cross-trigger straggler older than the carried
    state): the observation folds as a SAME-TIME correction — diffusion
    is clamped at zero and the state clock never rewinds — so a late
    chunk nudges the level without poisoning the variance, and
    subsequent in-order rows see correctly-measured gaps. Append mode
    cannot retract already-emitted rows, so unlike the buffered
    window streams (anomaly/rolling-OLS) a recurrence stream does not
    bitwise-reconverge to batch after late data; the documented fold
    above is pinned in ``test_kalman_stream_late_arrival_semantics``."""
    import numpy as np
    from pyspark.sql import types as T

    from ..operators.kalman import _kf_scan_factory
    from ..timeseries import parse_duration_ns

    if not q >= 0 or not r > 0:
        raise ValueError(f"need q >= 0 and r > 0, got q={q} r={r}")
    p0 = float(r) if p0 is None else float(p0)
    scan = _kf_scan_factory(float(q), float(r), p0,
                            float(parse_duration_ns(period)))

    def step(pdf, st):
        t = pdf["__tns"].to_numpy(dtype=np.int64)
        x = pdf[column].to_numpy(dtype=np.float64)
        out, st = scan(t, x, st)
        return {"__tns": t, column: x, f"{column}_kf": out}, st

    return _keyed_fold(
        _with_tns(stream, time_column), key,
        [T.StructField("__tns", T.LongType()),
         T.StructField(column, T.DoubleType()),
         T.StructField(f"{column}_kf", T.DoubleType())],
        [T.StructField("last_t", T.LongType()),
         T.StructField("level", T.DoubleType()),
         T.StructField("var", T.DoubleType())],
        None, step, values=[column])


def holt_winters_stream(stream: DataFrame, column: str,
                        key: Sequence[str], period: int,
                        alpha: float = 0.3, beta: float = 0.1,
                        gamma: float = 0.1, unit: str | int = "1d",
                        time_column: str = TIME_COLUMN) -> DataFrame:
    """Streaming twin of ``operators.holtwinters.holt_winters``: the
    (init, level, trend, seasonal-vector) state — 2 + period floats
    per key — carries across triggers through the same scan the batch
    engine runs; in-order replay is bitwise batch-identical. Null/NaN
    observations score null and leave the state untouched."""
    import numpy as np
    from pyspark.sql import types as T

    from ..operators.holtwinters import _hw_scan_factory, _validate
    from ..timeseries import parse_duration_ns

    _validate(alpha, beta, gamma, period)
    scan = _hw_scan_factory(float(alpha), float(beta), float(gamma),
                            int(period), parse_duration_ns(unit))
    names = [f"{column}_hw_level", f"{column}_hw_trend", f"{column}_hw"]

    def step(pdf, st):
        if st is not None:
            st = (bool(st[0]), float(st[1]), float(st[2]), list(st[3]))
        t = pdf["__tns"].to_numpy(dtype=np.int64)
        x = pdf[column].to_numpy(dtype=np.float64)
        outs, st = scan(t, x, st)
        return {"__tns": t, column: x, **dict(zip(names, outs))}, st

    return _keyed_fold(
        _with_tns(stream, time_column), key,
        [T.StructField("__tns", T.LongType()),
         T.StructField(column, T.DoubleType())]
        + [T.StructField(n, T.DoubleType()) for n in names],
        [T.StructField("init", T.BooleanType()),
         T.StructField("level", T.DoubleType()),
         T.StructField("trend", T.DoubleType()),
         T.StructField("seas", T.ArrayType(T.DoubleType()))],
        None, step, values=[column])


def kmv_stream(stream: DataFrame, col: str, key: Sequence[str],
               k: int = 64, salt: str = "kmv",
               time_column: str = TIME_COLUMN) -> DataFrame:
    """Streaming KMV/theta distinct counting — the sketch's
    mergeability IS the streaming story: state per key is the k
    smallest hashes seen so far; each trigger's distinct hashes merge
    in (k smallest of old ∪ new), exactly ``pipeline.sketches
    .kmv_union``'s rule, so after any replay the state equals the
    batch sketch of everything ingested. Emits one row per trigger per
    key with the running (m, theta, est_distinct).

    The normalized hash is computed IN SPARK before the stateful fold
    (the shared ``kmv_hash_expr``), so the streaming sketch and the
    batch sketch hash the exact same bytes — a Python-side
    ``str(value)`` would diverge from Spark's ``cast('string')`` on
    booleans ('True' vs 'true') and scientific-notation doubles,
    silently breaking the history-independence contract for
    non-string columns."""
    import numpy as np
    from pyspark.sql import types as T

    from ..pipeline.hashing import kmv_hash_expr

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")

    def step(pdf, st):
        new = set(pdf["__kh"].dropna().astype(float))
        hashes = sorted(set(st[0]) | new)[:k]
        m = len(hashes)
        theta = hashes[-1] if m >= k else 1.0
        est = (k - 1) / theta if m >= k else float(m)
        return ({"last_tns": [np.int64(pdf["__tns"].max())],
                 "m": [np.int32(m)], "theta": [theta],
                 "est_distinct": [est]},
                ([float(h) for h in hashes],))

    return _keyed_fold(
        _with_tns(stream, time_column).withColumn("__kh", F.when(
            F.col(col).isNotNull(), kmv_hash_expr(F.col(col), salt))), key,
        [T.StructField("last_tns", T.LongType()),
         T.StructField("m", T.IntegerType()),
         T.StructField("theta", T.DoubleType()),
         T.StructField("est_distinct", T.DoubleType())],
        [T.StructField("hashes", T.ArrayType(T.DoubleType()))],
        ([],), step)


def volume_bars_stream(stream: DataFrame, threshold: float,
                       price_col: str, volume_col: str,
                       key: Sequence[str],
                       tie_break: Sequence[str] = (),
                       time_column: str = TIME_COLUMN) -> DataFrame:
    """Streaming twin of :func:`operators.bars.volume_bars`: per-key
    state is the running volume total plus the OPEN bar's partial
    OHLCV — a bar is emitted exactly once, when it CLOSES (a later
    tick lands in a higher ``bar_seq``); the still-open bar is never
    emitted, so an in-order replay equals the batch operator minus
    each key's final (incomplete) bar. The per-trigger scan computes
    the same exclusive volume prefix left-to-right over the batch row
    order (time, tie_break, price, ...), so bar boundaries and
    every bar column replay bitwise. Volumes must be non-negative
    (bar ids are then nondecreasing in time; same contract as any
    volume clock); null volumes count 0, null prices are dropped.
    ``tns`` is the bar's first tick time in epoch ns."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if not float(threshold) > 0:
        raise ValueError("threshold must be positive")
    thr = float(threshold)
    price = F.col(price_col)
    base = (_with_tns(stream.filter(price.isNotNull()), time_column)
            .withColumn("__vol", F.coalesce(
                F.col(volume_col).cast("double"), F.lit(0.0))))
    def step(pdf, st):
        cum, open_bar = (0.0, None) if st is None else (st[0], list(st[1:]))
        closed = []
        v = pdf["__vol"].to_numpy(np.float64)
        px = pdf[price_col].to_numpy(np.float64)
        t = pdf["__tns"].to_numpy(np.int64)
        pv = px * v
        # EVERY float fold below is a SEEDED SEQUENTIAL cumsum
        # (np.cumsum accumulates left-to-right, no pairwise
        # splits), so prefixes and per-bar volume/pv reproduce
        # Spark's F.sum fold bit-for-bit across any chunking —
        # `cum + np.cumsum(v)` or `.sum()` would drift in the
        # last ulp on long bars (r6 advice)
        # batch shape is `F.sum(vol).over(frame) - vol`: the
        # INCLUSIVE sequential prefix minus the current row —
        # subtract the same way, never a rearranged exclusive fold
        pre = np.cumsum(np.r_[cum, v])
        before = pre[1:] - v
        bars = np.floor(before / thr).astype(np.int64)
        cum = float(pre[-1])
        starts = np.flatnonzero(np.r_[True, bars[1:] != bars[:-1]])
        bounds = np.r_[starts, len(bars)]
        for s0, s1 in zip(bounds, bounds[1:]):
            if open_bar is not None and int(bars[s0]) == open_bar[0]:
                # extend the open bar: seed the folds with its
                # partials (open px/tns keep)
                open_bar = [
                    open_bar[0], open_bar[1], open_bar[2],
                    max(open_bar[3], float(px[s0:s1].max())),
                    min(open_bar[4], float(px[s0:s1].min())),
                    float(px[s1 - 1]), open_bar[6] + int(s1 - s0),
                    float(np.cumsum(np.r_[open_bar[7], v[s0:s1]])[-1]),
                    float(np.cumsum(np.r_[open_bar[8], pv[s0:s1]])[-1])]
            else:
                if open_bar is not None:
                    closed.append(open_bar)  # a later bar started
                open_bar = [int(bars[s0]), int(t[s0]), float(px[s0]),
                            float(px[s0:s1].max()),
                            float(px[s0:s1].min()),
                            float(px[s1 - 1]), int(s1 - s0),
                            float(np.cumsum(v[s0:s1])[-1]),
                            float(np.cumsum(pv[s0:s1])[-1])]
        res = pd.DataFrame(
            closed, columns=["bar_seq", "tns", "open", "high", "low",
                             "close", "n", "volume", "pv"]) \
            if closed else None
        return res, (cum, *open_bar)

    out = _keyed_fold(
        base, key,
        [T.StructField("bar_seq", T.LongType()),
         T.StructField("tns", T.LongType()),
         T.StructField("open", T.DoubleType()),
         T.StructField("high", T.DoubleType()),
         T.StructField("low", T.DoubleType()),
         T.StructField("close", T.DoubleType()),
         T.StructField("n", T.LongType()),
         T.StructField("volume", T.DoubleType()),
         T.StructField("pv", T.DoubleType())],
        # state: running volume + the open bar's partials
        [T.StructField("cum", T.DoubleType()),
         T.StructField("bar", T.LongType()),
         T.StructField("tns", T.LongType()),
         T.StructField("open", T.DoubleType()),
         T.StructField("high", T.DoubleType()),
         T.StructField("low", T.DoubleType()),
         T.StructField("close", T.DoubleType()),
         T.StructField("n", T.LongType()),
         T.StructField("vol", T.DoubleType()),
         T.StructField("pv", T.DoubleType())],
        None, step, tie_break=tie_break, values=[price_col])
    vwap = F.when(F.col("volume") != 0, F.col("pv") / F.col("volume"))
    return out.withColumn("vwap", vwap).drop("pv")


def pack_sequences_stream(stream: DataFrame, seq_len: int,
                          tokens_col: str, key: Sequence[str],
                          on: str = "doc_id") -> DataFrame:
    """Streaming twin of ``pipeline.sampling.pack_sequences`` (the
    sharded form; ``key`` = the shard columns): per-key state is ONE
    long — the running token count — and an arriving document's
    segment rows depend only on that prefix, so every row emits
    exactly once, IMMEDIATELY (nothing is held open, unlike the volume
    clock whose final bar never emits). Integer arithmetic end to end:
    an in-order replay (ascending ``on`` within key, the file-replay
    contract) equals the batch operator BITWISE on ALL rows, final
    document included. Out-of-order arrivals across triggers pack in
    arrival order — the standard streaming tradeoff; within a trigger
    rows sort by ``on``. Token-count semantics are the batch
    operator's (``sampling._tok_long``): NULL packs as 0 (one
    zero-token row at the document's stream position), fractional
    truncates, and NEGATIVE counts fail the query loudly — ``F.size``
    of a NULL split is -1 under legacy sizeOfNull, and a -1 would
    silently shift every later document's offsets."""
    import numpy as np
    from pyspark.sql import types as T

    from ..pipeline.sampling import _tok_long

    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    reserved = [c for c in stream.columns if c.startswith("__")]
    if reserved:
        raise ValueError(
            f"pack_sequences_stream reserves '__'-prefixed columns for "
            f"its scratch state (would silently overwrite {reserved}); "
            f"rename them — same contract as the batch twin")
    L = int(seq_len)

    def step(pdf, st):
        n = pdf["__n"].to_numpy(np.int64)
        doc = pdf[on].to_numpy()
        # exclusive integer prefix seeded by the carried state —
        # exact, so any chunking replays the batch cumsum bitwise
        cb = st[0] + np.cumsum(np.r_[np.int64(0), n])[:-1]
        k0 = cb // L
        k1 = np.where(n > 0, (cb + np.maximum(n, 1) - 1) // L, k0)
        counts = (k1 - k0 + 1).astype(np.int64)
        total = int(counts.sum())
        # per-document 0..counts-1 ramp -> overlapped sequence ids
        ramp = (np.arange(total, dtype=np.int64)
                - np.repeat(np.cumsum(counts) - counts, counts))
        seq = np.repeat(k0, counts) + ramp
        cbr = np.repeat(cb, counts)
        nr = np.repeat(n, counts)
        doc_off = np.maximum(np.int64(0), seq * L - cbr)
        seg_end = np.minimum(nr, (seq + 1) * L - cbr)
        seg = np.where(nr > 0, seg_end - doc_off, np.int64(0))
        return ({on: np.repeat(doc, counts), "seq_id": seq,
                 "doc_off": doc_off, "seq_off": cbr + doc_off - seq * L,
                 "seg_tokens": seg},
                (int(cb[-1] + n[-1]),))

    return _keyed_fold(
        stream.withColumn("__n", _tok_long(tokens_col)), key,
        [stream.schema[on],
         T.StructField("seq_id", T.LongType()),
         T.StructField("doc_off", T.LongType()),
         T.StructField("seq_off", T.LongType()),
         T.StructField("seg_tokens", T.LongType())],
        [T.StructField("cum", T.LongType())], (0,), step, time=on)


def pack_bins_stream(stream: DataFrame, budget: int, tokens_col: str,
                     key: Sequence[str],
                     on: str = "doc_id") -> DataFrame:
    """Streaming twin of ``pipeline.sampling.pack_bins`` (next-fit
    capacity packing; ``key`` = the shard columns): per-key state is
    (open bin id, its fill), and a document's bin depends only on that
    running pair, so rows emit exactly once, immediately. The seeded
    fold replays the batch recurrence exactly — an in-order replay
    (ascending ``on`` within key) equals the batch operator BITWISE on
    all rows. Token-count semantics are ``sampling._tok_long``'s
    (NULL->0, truncate, negatives fail the query).

    .. note:: **Checkpoint compatibility** — the state schema gained a
       third field (``used``, the open bin's doc count) with the
       zero-token-doc fix; a query restarted from a checkpoint written
       by the two-field version will fail on the
       ``applyInPandasWithState`` state-schema mismatch. Start such
       queries with a fresh checkpoint directory."""
    import numpy as np
    from pyspark.sql import types as T

    from ..pipeline.sampling import _next_fit, _tok_long

    if budget <= 0:
        raise ValueError("budget must be positive")
    reserved = [c for c in stream.columns if c.startswith("__")]
    if reserved:
        raise ValueError(
            f"pack_bins_stream reserves '__'-prefixed columns for its "
            f"scratch state (would silently overwrite {reserved}); "
            f"rename them — same contract as the batch twin")
    bud = int(budget)

    def step(pdf, st):
        # the batch recurrence body, seeded with the carried state
        bins, b, fill, used = _next_fit(
            np, pdf["__n"].to_numpy(np.int64), bud, *st)
        return ({on: pdf[on].to_numpy(), "bin_id": bins},
                (int(b), int(fill), int(used)))

    return _keyed_fold(
        stream.withColumn("__n", _tok_long(tokens_col)), key,
        [stream.schema[on], T.StructField("bin_id", T.LongType())],
        [T.StructField("bin", T.LongType()),
         T.StructField("fill", T.LongType()),
         T.StructField("used", T.LongType())],
        (0, 0, 0), step, time=on)
