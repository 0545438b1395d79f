"""User-defined aggregation over cycles, intervals and windows.

The reference routes Python UDFs through a custom Arrow batch protocol
(``ts.flint.functions.udf``, reference ``python/ts/flint/functions.py:31-196``,
``dataframe.py:729-1491``). PySpark ships Arrow natively, so the whole
machinery collapses to one complete-group ``mapInPandas`` engine,
:func:`_grouped_map`, which also runs the keyed pandas scans
(``ema``, ``kalman``, ``holtwinters``, ``rolling_quantile``) and the
last-k as-of join:

- ``summarize_cycles_udf`` / ``summarize_intervals_udf`` — one pandas
  DataFrame per group in, one row out;
- ``add_columns_for_cycle_udf`` — cardinality-preserving per-cycle fn
  (see ``operators.cycles.add_columns_for_cycle``);
- ``summarize_windows_udf`` — per-row window aggregation with a pandas
  fn over interval buckets: rows replicate into the <= 3 adjacent
  buckets they can serve, and each (key, bucket) group slices each
  target's window as a searchsorted VIEW of the shared bucket frame.
  Memory is O(rows-per-bucket), never O(rows x window); still use
  built-in summarizers (WindowExec, O(n) frames, zero Python) wherever
  the aggregate is expressible.
"""

from __future__ import annotations

from typing import Callable, Mapping, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .timeseries import TIME_COLUMN, row_order
from .windows import TimeWindow


def _group_boundaries(np, pdf: pd.DataFrame, gcols: Sequence[str]):
    """Start indices of each group run in a frame sorted by ``gcols``
    (row 0 included); NaN == NaN within a column so null keys group."""
    n = len(pdf)
    change = np.zeros(n, dtype=bool)
    change[0] = True
    for c in gcols:
        a = pdf[c].to_numpy()
        neq = a[1:] != a[:-1]
        both_na = pd.isna(a[1:]) & pd.isna(a[:-1])
        change[1:] |= neq & ~both_na
    return np.flatnonzero(change)


def _complete_group_batches(batches, gcols: Sequence[str]):
    """Re-chunk a mapInPandas batch iterator (sorted by ``gcols``
    within the partition) into frames of COMPLETE groups: the possibly
    continuing last group of each Arrow batch is carried into the
    next, and the tail flushes at the end. Groups stay contiguous, so
    each yielded frame's group runs are its ``_group_boundaries``.

    This is the re-chunking step of :func:`_grouped_map`: one Arrow
    batch carries MANY groups, where a per-group ``applyInPandas``
    pays its ~2.7ms JVM<->Arrow round-trip PER GROUP — the 10:1
    overhead the bucket-width study measured
    (``git show 3936ed2:docs/BENCH_NOTES.md``)."""
    import numpy as np

    def _same_group(last_row, first_row):
        for c in gcols:
            a, b = last_row[c], first_row[c]
            if pd.isna(a) and pd.isna(b):
                continue
            if pd.isna(a) or pd.isna(b) or a != b:
                return False
        return True

    # the carried (possibly still-growing) trailing group accumulates
    # as a LIST of chunks, concatenated once per emission — re-concat
    # per batch would copy the whole carry every time, O(batches^2)
    # elements when one group spans many Arrow batches (few hot keys)
    carry: list[pd.DataFrame] = []
    for pdf in batches:
        if len(pdf) == 0:
            continue
        bounds = _group_boundaries(np, pdf, gcols)
        continues = bool(carry) and _same_group(carry[-1].iloc[-1],
                                                pdf.iloc[0])
        # boundary at 0 only counts when the batch STARTS a new group
        eff = bounds if not continues else bounds[1:]
        if len(eff) == 0:
            carry.append(pdf)          # whole batch extends the carry
            continue
        cut = int(eff[-1])
        if continues:
            # carry + head form one contiguous run ending at the last
            # boundary; the continuing group stays whole
            yield pd.concat(carry + ([pdf.iloc[:cut]] if cut else []),
                            ignore_index=True)
        else:
            if carry:
                yield pd.concat(carry, ignore_index=True) if len(carry) > 1 \
                    else carry[0]
            if cut:
                yield pdf.iloc[:cut]
        carry = [pdf.iloc[cut:]] if cut < len(pdf) else []
    if carry:
        yield pd.concat(carry, ignore_index=True) if len(carry) > 1 \
            else carry[0]


def _compute_partitions(df: DataFrame) -> int:
    """Partition count for the keyed Arrow COMPUTE stages (the
    ``repartition(key).sortWithinPartitions`` of :func:`_grouped_map`).
    Passing it explicitly (REPARTITION_BY_NUM) stops AQE's byte-based
    coalescing from folding the stage below cluster parallelism: shuffle
    bytes are the wrong cost signal when the stage's cost is per-row
    Python compute, not shuffle I/O — at sf0.1 the last-k as-of union
    (~14 MB) coalesced to 4 tasks on 32 cores, serializing ~3 s of
    Arrow-stage work. The default scales with the cluster but is
    CAPPED at 4x defaultParallelism (r12 ADVICE): shuffle.partitions
    is often tuned for the largest shuffle in a workload (e.g. 2000),
    and pinning every tiny keyed Python stage to it would launch
    thousands of near-empty Python-worker tasks on a small-core
    cluster; 4x cores keeps enough slack for stragglers/skew without
    inheriting an unrelated tuning. Override with
    ``spark.flint.compute.partitions`` when a TB-scale input wants
    more partitions than that."""
    spark = df.sparkSession
    v = str(spark.conf.get("spark.flint.compute.partitions", "") or "")
    if v:
        return int(v)
    try:  # some platforms set non-numeric values (e.g. "auto")
        shuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        shuf = 0
    dp = spark.sparkContext.defaultParallelism
    return max(dp, min(shuf, 4 * dp))


def _grouped_map(df: DataFrame, gcols: Sequence[str], time: str,
                 fn: Callable[[pd.DataFrame, list], pd.DataFrame | None],
                 schema: T.StructType, tie_break: Sequence[str] = (),
                 values: Sequence[str] = ()) -> DataFrame:
    """The one complete-group plan behind every keyed pandas operator:
    hash-repartition on ``gcols`` (``_compute_partitions`` tasks; ONE
    partition when ``gcols`` is empty), sort within partitions by
    ``gcols`` then ``timeseries.row_order(time, tie_break, values)``,
    then ``mapInPandas`` over ``_complete_group_batches``. ``fn(head,
    segs)`` receives each complete-group chunk (index reset) and its
    group run starts with ``len(head)`` appended, and returns the
    chunk's output frame in ``schema`` order (None emits nothing)."""
    import numpy as np

    gcols = list(gcols)

    def run(batches):
        for head in _complete_group_batches(batches, gcols):
            head = head.reset_index(drop=True)
            segs = _group_boundaries(np, head, gcols).tolist() + [len(head)]
            out = fn(head, segs)
            if out is not None:
                yield out

    parts = _compute_partitions(df) if gcols else 1
    order = row_order(df, time, tie_break, values, skip=gcols)
    arranged = (df.repartition(parts, *[F.col(c) for c in gcols])
                .sortWithinPartitions(*[F.col(c) for c in gcols], *order))
    return arranged.mapInPandas(run, schema)


def summarize_cycles_udf(df: DataFrame, fn: Callable[[pd.DataFrame], Mapping],
                         out_schema: str | T.StructType,
                         key: Sequence[str] = ()) -> DataFrame:
    """Aggregate each cycle with a pandas function returning a dict of
    scalars. Output: (time, *key, **fn outputs).

    Execution: the complete-group engine (:func:`_grouped_map`) —
    at per-second cycles over years of data the group count runs to
    millions, and a per-group ``applyInPandas`` round-trip would
    dominate the aggregation itself. Group values are taken
    column-wise, so int64 times and keys above 2**53 stay exact."""
    key = list(key)
    if isinstance(out_schema, str):
        out_schema = T.StructType.fromDDL(out_schema)
    group_cols = [TIME_COLUMN] + key
    full = T.StructType(
        [df.schema[c] for c in group_cols] + list(out_schema.fields))
    value_names = out_schema.fieldNames()

    def per_cycle(head: pd.DataFrame, segs: list) -> pd.DataFrame:
        out = head[group_cols].iloc[segs[:-1]].reset_index(drop=True)
        vals = pd.DataFrame([fn(head.iloc[s0:s1])
                             for s0, s1 in zip(segs, segs[1:])],
                            columns=value_names)
        return pd.concat([out, vals], axis=1)

    return _grouped_map(df, group_cols, TIME_COLUMN, per_cycle, full)


def _interval_cycles(df: DataFrame, clock, inclusion: str,
                     rounding: str) -> DataFrame:
    """Rows re-timed to their clock interval's time, so each interval
    is one cycle of the ``summarize_cycles_*`` engine."""
    from .operators.intervals import _INTERVAL, _interval_time_col, intervalize

    bucketed = intervalize(df, clock, inclusion, rounding)
    return bucketed.withColumn(TIME_COLUMN, _interval_time_col(bucketed)) \
                   .drop(_INTERVAL)


def summarize_intervals_udf(df: DataFrame, clock, fn, out_schema,
                            key: Sequence[str] = (), inclusion: str = "begin",
                            rounding: str = "end") -> DataFrame:
    return summarize_cycles_udf(_interval_cycles(df, clock, inclusion,
                                                 rounding),
                                fn, out_schema, key)


def summarize_windows_udf(df: DataFrame, window: TimeWindow,
                          fn: Callable[[pd.DataFrame], float],
                          out_name: str, key: Sequence[str] = (),
                          out_type: T.DataType = T.DoubleType(),
                          bucket: str | int | None = None) -> DataFrame:
    """Per-row pandas aggregation of the row's time window, with
    memory bounded by BUCKET size, not rows x window.

    The naive plan (``collect_list(struct(*)).over(rangeWindow)``)
    materializes every row's window as its own array — O(n·w) memory
    and Arrow transfer, which is exactly why the reference built
    500k-row window batches instead (``summarizeWindowBatches``,
    ``TimeSeriesRDD.scala:1648-1748``, ``FlintConf.scala:20-23``).
    This is the Spark-native equivalent: rows land in fixed-width time
    buckets (width >= the window span, so every row's window spans at
    most two buckets) and each row is replicated into the <= 3 buckets
    whose targets it can serve — bounded constant-factor duplication.
    Execution is ONE hash repartition on (key, bucket) + a
    within-partition sort + ``mapInPandas``: many groups ride in each
    Arrow batch (a per-group ``applyInPandas`` pays ~2.7ms of
    JVM<->Arrow round-trip PER GROUP, which dominated small-bucket
    runs 10:1 — the bucket-width study in ``git show
    3936ed2:docs/BENCH_NOTES.md``), group runs
    are rediscovered as change-points of the sorted batch, a group
    split across batch boundaries is carried over, and each target's
    window is sliced out of the shared frame with ``searchsorted``
    (the ``detect_anomalies_stream`` prefix recipe): a VIEW, never an
    owned copy.

    ``fn`` receives the window as a pandas DataFrame of the input
    columns in time order (including the target row itself whenever
    0 is inside the window bounds; an empty window yields an empty
    frame WITH the input columns). ``bucket`` overrides the bucket
    width; wider buckets strictly reduce duplication
    (~span/bucket + 1 copies) at the cost of per-carry memory — the
    span default is the memory-safe floor.

    Exchanges: ONE (the key+bucket hash repartition); memory per task
    is O(arrow-batch + rows-per-bucket), flat in total row count."""
    return _bucketed_window_apply(
        df, window, key, bucket,
        [T.StructField(out_name, out_type)],
        lambda ctx, starts, ends: {
            out_name: [fn(ctx.iloc[s:e]) for s, e in zip(starts, ends)]})


def _bucketed_window_apply(df: DataFrame, window: TimeWindow,
                           key: Sequence[str],
                           bucket: str | int | None,
                           new_fields: Sequence[T.StructField],
                           compute, segment_compute=None) -> DataFrame:
    """Shared engine for per-row custom window aggregation (the
    bucketed mapInPandas plan described in
    :func:`summarize_windows_udf`). ``compute(ctx, starts, ends)``
    receives the complete-group frame (input columns, time order) and
    the per-target window slice bounds, and returns
    ``{out_name: list-of-values}`` for every field in
    ``new_fields``.

    ``segment_compute(np, ctx_seg, t_seg)``, when given, replaces the
    per-target slicing with ONE vectorized scan per (key, bucket)
    segment — for window functions with a sublinear-per-row streaming
    form (pandas' O(n log w) skiplist rolling quantile) where slicing
    each target's window and recomputing would be O(n·w). It returns
    ``{out_name: full-segment array}``; the engine keeps only the
    target rows' values (context rows replicated from neighbouring
    buckets are evaluated but not emitted)."""
    from .operators._route import replicate_into_buckets
    from .timeseries import parse_duration_ns

    key = list(key)
    lo, hi = window.range_bounds()
    span = max(int(hi) - int(lo), 1)
    width = parse_duration_ns(bucket) if bucket is not None else span
    if width < span:
        raise ValueError(
            f"bucket width {width} ns is smaller than the window span "
            f"{span} ns — a window would span more than two buckets")
    data_cols = list(df.columns)
    exploded = replicate_into_buckets(df, lo, hi, width,
                                      "summarize_windows_udf")
    out_schema = T.StructType(list(df.schema.fields) + list(new_fields))
    out_cols = [f.name for f in out_schema.fields]
    lo_i, hi_i = int(lo), int(hi)
    gcols = [*key, "__b"]

    def _emit(pdf: pd.DataFrame, segs: list) -> pd.DataFrame:
        """pdf holds COMPLETE groups, sorted by gcols then row order."""
        import numpy as np

        ctx = pdf[data_cols]
        t = pdf["__tns"].to_numpy(np.int64)
        tgt = pdf["__tgt"].to_numpy(bool)
        res = pdf.loc[tgt, data_cols].copy()
        if segment_compute is not None:
            # double-typed outputs only (the streaming-scan users are
            # numeric); float64 keeps the Arrow column typed — an
            # object column would round-trip through python objects
            full = {f.name: np.empty(len(t), dtype=np.float64)
                    for f in new_fields}
            for s0, s1 in zip(segs, segs[1:]):
                for name, vals in segment_compute(
                        np, ctx.iloc[s0:s1], t[s0:s1]).items():
                    full[name][s0:s1] = vals
            for name, vals in full.items():
                res[name] = vals[tgt]
            return res[out_cols]
        starts = np.empty(len(t), dtype=np.int64)
        ends = np.empty(len(t), dtype=np.int64)
        for s0, s1 in zip(segs, segs[1:]):
            tt = t[s0:s1]
            m = tgt[s0:s1]
            starts[s0:s1][m] = s0 + np.searchsorted(tt, tt[m] + lo_i,
                                                    side="left")
            ends[s0:s1][m] = s0 + np.searchsorted(tt, tt[m] + hi_i,
                                                  side="right")
        for name, vals in compute(ctx, starts[tgt], ends[tgt]).items():
            res[name] = vals
        return res[out_cols]

    return _grouped_map(exploded, gcols, "__tns", _emit, out_schema)


# ----------------------------------------------------------------------
# reference udf() facade: pandas / numpy columnar UDFs with Column,
# multi-Column, or whole-DataFrame arguments and tuple multi-returns
# (reference ``python/ts/flint/functions.py:31-196``; the Arrow batch
# protocol behind it collapses into applyInPandas here)
# ----------------------------------------------------------------------

class UDFCall:
    """A bound invocation of a :func:`udf`: remembers which input
    columns feed the function and how to present them (pandas Series /
    DataFrame or numpy ndarray / dict-of-ndarray)."""

    def __init__(self, fn, return_type, arg_type, args):
        self.fn = fn
        self.return_type = return_type  # DataType or tuple of DataTypes
        self.arg_type = arg_type
        self.args = args  # list of str (one column) or list[str] (frame)

    def _materialize(self, pdf: pd.DataFrame):
        vals = []
        for a in self.args:
            if isinstance(a, list):  # whole-frame argument
                sub = pdf[a]
                if self.arg_type == "numpy":
                    from collections import OrderedDict
                    vals.append(OrderedDict(
                        (c, sub[c].to_numpy()) for c in sub.columns))
                else:
                    vals.append(sub)
            else:
                s = pdf[a]
                vals.append(s.to_numpy() if self.arg_type == "numpy" else s)
        return vals

    def __call__(self, pdf: pd.DataFrame):
        return self.fn(*self._materialize(pdf))


class FlintUDF:
    def __init__(self, fn, return_type, arg_type="pandas"):
        self.fn = fn
        self.return_type = return_type
        self.arg_type = arg_type

    def __call__(self, *cols) -> UDFCall:
        args = []
        for c in cols:
            if isinstance(c, DataFrame):
                args.append(list(c.columns))
            elif isinstance(c, str):
                args.append(c)
            elif isinstance(c, Column):
                args.append(_column_name(c))
            else:
                raise TypeError(f"udf argument must be Column/str/DataFrame, got {type(c)}")
        return UDFCall(self.fn, self.return_type, self.arg_type, args)


def _column_name(col: Column) -> str:
    """Resolve a plain attribute-reference Column (``df['v']``) to its
    name; computed expressions are rejected like the reference's
    non-AttributeReference branch (pass a named/aliased column)."""
    name = col._jc.toString()  # noqa: SLF001 - classic-mode JVM column
    if not name.isidentifier():
        raise ValueError(
            f"udf() arguments must be plain columns, got expression {name!r}; "
            "alias it on the DataFrame first")
    return name


def udf(return_type=None, arg_type: str = "pandas"):
    """Decorator mirroring ``ts.flint.functions.udf``: wraps a scalar-
    or series-returning function over pandas (default) or numpy
    (``arg_type='numpy'``) inputs. A tuple ``return_type`` declares a
    multi-output UDF consumed as ``{('a', 'b'): fn(df['x'])}``."""
    if arg_type not in ("pandas", "numpy"):
        raise ValueError("arg_type must be 'pandas' or 'numpy'")
    rt = return_type if return_type is not None else T.DoubleType()

    def wrap(fn):
        return FlintUDF(fn, rt, arg_type)

    # a DataType CLASS (e.g. udf(T.DoubleType) without parens) is a common
    # slip — without this check it would be silently wrapped as the UDF
    # body (ADVICE r2)
    if isinstance(return_type, type) and issubclass(return_type, T.DataType):
        raise TypeError(
            f"udf() got the DataType class {return_type.__name__}; pass an "
            f"instance: udf(T.{return_type.__name__}())")
    # bare @udf usage (fn passed directly)
    if callable(return_type) and not isinstance(return_type, (T.DataType, tuple)):
        fn, rt_ = return_type, T.DoubleType()
        return FlintUDF(fn, rt_, arg_type)
    return wrap


def _calls_schema(outputs: Mapping) -> tuple[T.StructType, list]:
    """(output value schema, [(names, call)]) for a dict of UDFCalls."""
    fields = []
    norm = []
    for names, call in outputs.items():
        names = (names,) if isinstance(names, str) else tuple(names)
        rts = call.return_type if isinstance(call.return_type, tuple) \
            else (call.return_type,)
        if len(names) != len(rts):
            raise ValueError(f"output names {names} vs return types {rts}")
        fields.extend(T.StructField(n, t) for n, t in zip(names, rts))
        norm.append((names, call))
    return T.StructType(fields), norm


def summarize_cycles_calls(df: DataFrame, outputs: Mapping,
                           key: Sequence[str] = ()) -> DataFrame:
    """summarizeCycles with reference-style udf dict:
    ``{'out': my_udf(df['v']), ('a', 'b'): multi_udf(df[['v', 'w']])}``.
    Each cycle (time, *key) group evaluates every call once, in the
    per-cycle loop of :func:`summarize_cycles_udf`."""
    schema, calls = _calls_schema(outputs)

    def evaluate(g: pd.DataFrame) -> dict:
        res = {}
        for names, call in calls:
            out = call(g)
            res.update(zip(names, out if isinstance(out, tuple) else (out,)))
        return res

    return summarize_cycles_udf(df, evaluate, schema, key)


def summarize_windows_calls(df: DataFrame, window: TimeWindow,
                            outputs: Mapping,
                            key: Sequence[str] = (),
                            bucket: str | int | None = None) -> DataFrame:
    """summarizeWindows with reference-style udf dict (reference
    ``python/ts/flint/dataframe.py:1099-1240``):
    ``{'mean': mean(df['v']), ('m', 's'): both(df[['v', 'w']])}``.
    ALL calls evaluate in the single bucketed mapInPandas pass of
    :func:`summarize_windows_udf` — one repartition + sort no matter
    how many outputs, each window a searchsorted view of the shared
    bucket frame (never the O(rows x window) per-call collect_list
    arrays of the naive plan)."""
    schema, norm = _calls_schema(outputs)

    def compute(ctx: pd.DataFrame, starts, ends) -> Mapping:
        res: dict = {}
        for names, call in norm:
            vals = [call(ctx.iloc[s:e]) for s, e in zip(starts, ends)]
            if len(names) == 1:
                res[names[0]] = vals
            else:
                for i, n in enumerate(names):
                    res[n] = [v[i] for v in vals]
        return res

    return _bucketed_window_apply(df, window, key, bucket,
                                  schema.fields, compute)
