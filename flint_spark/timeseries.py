"""TimeSeriesDataFrame — the core time-ordered table abstraction.

A thin wrapper over a plain ``pyspark.sql.DataFrame`` with a
distinguished ``time`` column (first column, ``TimestampType`` or
``LongType`` nanoseconds). Unlike the reference engine
(twosigma/flint ``TimeSeriesRDD``, reference
``timeseries/TimeSeriesRDD.scala:562-571``), we do NOT materialize
partition-range metadata or a custom ordered RDD: each operator states
the ordering it needs via ``Window`` specs, ``groupBy`` or
``repartitionByRange``, and Catalyst plans a ``Sort`` only where the
plan's own ``outputOrdering`` does not already give it.

Design notes for 100 TB scale:
- every operator compiles to declarative DataFrame ops so predicate
  pushdown / column pruning / AQE all apply;
- no driver-side collect anywhere in this module;
- ``repartitionByRange('time')`` is only issued when a caller
  explicitly asks for a physically range-partitioned layout.
"""

from __future__ import annotations

from typing import Callable, Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import require_ansi_off

TIME_COLUMN = "time"

#: nanoseconds per unit, for tolerance / duration parsing
_UNIT_NS = {
    "ns": 1,
    "us": 1_000,
    "ms": 1_000_000,
    "s": 1_000_000_000,
    "m": 60 * 1_000_000_000,
    "min": 60 * 1_000_000_000,
    "h": 3_600 * 1_000_000_000,
    "d": 86_400 * 1_000_000_000,
    "day": 86_400 * 1_000_000_000,
    "w": 7 * 86_400 * 1_000_000_000,
}


def parse_duration_ns(duration: str | int) -> int:
    """Parse ``"1d"``/``"100ns"``/``"30 min"``-style durations to ns.

    Mirrors the reference's duration strings
    (reference ``timeseries/Windows.scala:32-50``).
    """
    if isinstance(duration, int):
        return duration
    s = duration.strip().lower().replace(" ", "")
    num = ""
    for i, ch in enumerate(s):
        if ch.isdigit() or ch == ".":
            num += ch
        else:
            unit = s[i:]
            break
    else:
        raise ValueError(f"no unit in duration {duration!r}")
    # normalize plural / long names
    unit = {
        "nanos": "ns", "nanosecond": "ns", "nanoseconds": "ns",
        "micros": "us", "microsecond": "us", "microseconds": "us",
        "millis": "ms", "millisecond": "ms", "milliseconds": "ms",
        "sec": "s", "second": "s", "seconds": "s",
        "minute": "m", "minutes": "m", "mins": "m",
        "hour": "h", "hours": "h",
        "days": "d", "week": "w", "weeks": "w",
    }.get(unit, unit)
    if unit not in _UNIT_NS:
        raise ValueError(f"unknown duration unit {unit!r} in {duration!r}")
    return int(float(num) * _UNIT_NS[unit])


def time_ns_expr(df: DataFrame, column: str = TIME_COLUMN) -> Column:
    """ns-since-epoch Long expression for ``df[column]`` given its dtype.

    TimestampType carries microseconds internally, so ns precision is
    only exact for LongType inputs — same duality as the reference's
    ``TimeType`` (reference ``timeseries/time/types/TimeType.scala:43-78``).

    Also the engine-wide ANSI chokepoint: every time-series operator
    resolves its time axis here, so the loud
    :func:`~flint_spark.session.require_ansi_off` guard at this seam
    covers the whole family at plan-build time (r10 verdict item 1).
    """
    require_ansi_off("time-series operators (time_ns_expr)",
                     df.sparkSession)
    dtype = dict(df.dtypes)[column]
    if dtype in ("bigint", "long", "int"):
        return F.col(column).cast("long")
    if dtype.startswith("timestamp"):
        # timestamp_ntz needs an ltz cast first (session TZ is pinned UTC,
        # so the cast is a pure reinterpretation)
        return F.unix_micros(F.col(column).cast("timestamp")) * F.lit(1000)
    raise TypeError(f"time column {column!r} has unsupported type {dtype}")


def floor_div(col: Column, divisor: int) -> Column:
    """Exact floor division of an integral column (epoch-ns Longs),
    as a long.

    ``(col / n).cast('long')`` is lossy: ns magnitudes (~1.7e18) exceed
    double's 53-bit mantissa. Subtracting the remainder first makes the
    numerator exactly divisible, so integral ``div`` (which truncates
    toward zero) is exact and floors negative values too. A zero
    divisor yields null under ANSI-off.
    """
    col = col.cast("long")
    rem = F.pmod(col, F.lit(divisor))
    return F.call_function("div", col - rem, F.lit(divisor))


def ns_to_time_expr(ns: Column, dtype: str) -> Column:
    """Inverse of time_ns_expr: epoch-ns Long -> a value of ``dtype``."""
    if dtype in ("bigint", "long", "int"):
        return ns.cast("long")
    if dtype.startswith("timestamp"):
        ts = F.timestamp_micros(floor_div(ns, 1000))
        return ts.cast(dtype) if dtype == "timestamp_ntz" else ts
    raise TypeError(f"unsupported time dtype {dtype}")


def as_time_expr(df: DataFrame, column: str, dtype: str = "timestamp") -> Column:
    """``df[column]`` — long epoch-ns OR any timestamp flavor — as a
    ``dtype`` time value. Schema-tolerant loader helper: parquet fixtures
    may carry time as TIMESTAMP(NANOS) (read as Long ns under
    ``nanosAsLong``), TIMESTAMP(MICROS), or raw Long ns."""
    src = dict(df.dtypes)[column]
    if src == "timestamp" and dtype == "timestamp":
        return F.col(column)
    if src.startswith("timestamp") and dtype == "timestamp":
        # ntz -> ltz under a UTC session is a pure reinterpretation; the
        # generic path's µs->ns->µs floor_div chain is exact but costs
        # real per-row arithmetic on every scan
        return F.col(column).cast("timestamp")
    return ns_to_time_expr(time_ns_expr(df, column), dtype)


def _orderable(dt: T.DataType) -> bool:
    """Spark can sort by a value of this type (no map or variant inside)."""
    if isinstance(dt, (T.MapType, T.VariantType, T.CalendarIntervalType)):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def _order_names(df: DataFrame, time: str, tie_break: Sequence[str] = (),
                 values: Sequence[str] = (),
                 skip: Sequence[str] = ()) -> list[str]:
    """:func:`row_order` as column names, ``time`` first."""
    types = {f.name: f.dataType for f in df.schema.fields}
    names = [time, *tie_break, *[c for c in values if _orderable(types[c])]]
    names += [c for c, t in types.items()
              if not c.startswith("__") and c not in skip and _orderable(t)]
    return list(dict.fromkeys(names))


def row_order(df: DataFrame, time: Column | str | None = None,
              tie_break: Sequence[str] = (), values: Sequence[str] = (),
              skip: Sequence[str] = ()) -> list[Column]:
    """The engine's one total row order as ascending sort columns: the
    time (``time_ns_expr(df)``, a named column or a time expression),
    ``tie_break``, ``values``, then every other orderable column not
    named ``__*`` or in ``skip`` (a named time in ``skip`` too). The
    reference breaks ties by partition order, which a shuffle cannot
    reproduce; rows equal on this order are equal rows. Nulls sort
    first and NaN after +inf, the only placement struct comparison
    (max-struct as-of, bar structs) expresses. :func:`sort_rows` is
    the pandas twin."""
    name = time if isinstance(time, str) else TIME_COLUMN
    head = (F.col(time) if isinstance(time, str)
            else time_ns_expr(df) if time is None else time)
    names = _order_names(df, name, tie_break, values, skip)
    lead = [] if isinstance(time, str) and time in skip else [head]
    return lead + [F.col(c) for c in names[1:]]


def nan_flags(df: DataFrame, names: Sequence[str]) -> dict[str, Column]:
    """``__isnan_<c>`` columns for the float columns among ``names``:
    Arrow hands pandas a null double as NaN, so :func:`sort_rows` needs
    them to tell a true NaN from a null."""
    types = dict(df.dtypes)
    return {f"__isnan_{c}": F.isnan(c) for c in names
            if types.get(c) in ("double", "float")}


def sort_rows(pdf, names: Sequence[str]):
    """Pandas twin of :func:`row_order`: ``pdf`` stably sorted by
    ``names`` (:func:`_order_names`), null first and NaN last. A float
    NaN counts as null unless its ``__isnan_<c>`` flag is set; a column
    pandas cannot compare (arrays) is left out of the sort."""
    import numpy as np

    keys = []
    for c in names:
        col = pdf[c]
        if isinstance(col.dtype, np.dtype) and col.dtype.kind in "biufM" \
                and not col.isna().any():
            keys.append(col.to_numpy())  # no null or NaN: sort as is
            continue
        try:
            key = col.rank(method="dense").to_numpy(np.float64)
        except (TypeError, ValueError):
            continue
        flag = f"__isnan_{c}"
        key[np.isnan(key)] = 0.0  # nulls (dense ranks start at 1)
        if flag in pdf:
            key[pdf[flag].to_numpy(dtype=bool)] = np.inf
        keys.append(key)
    return pdf.iloc[np.lexsort(keys[::-1])] if keys else pdf


def canonize(
    df: DataFrame,
    time_column: str = TIME_COLUMN,
    time_unit: str | None = None,
) -> DataFrame:
    """Rename/reorder the time column first; optionally convert units.

    Equivalent of the reference's ``canonizeTime``/``canonizeDF``
    (reference ``timeseries/TimeSeriesRDD.scala:118-145,296-356``) but
    with no eager sort: ordering is established lazily by operators.
    """
    if time_column != TIME_COLUMN:
        df = df.withColumnRenamed(time_column, TIME_COLUMN)
    if TIME_COLUMN not in df.columns:
        raise ValueError(f"no {TIME_COLUMN!r} column after renaming {time_column!r}")
    if time_unit is not None and time_unit != "ns":
        # integer input in another unit -> ns
        factor = _UNIT_NS[time_unit]
        df = df.withColumn(TIME_COLUMN, (F.col(TIME_COLUMN) * F.lit(factor)).cast("long"))
    others = [c for c in df.columns if c != TIME_COLUMN]
    return df.select(TIME_COLUMN, *others)


class TimeSeriesDataFrame:
    """Time-ordered table: wraps a DataFrame whose ``time`` column is the
    logical sort key. All operators return new wrappers; nothing mutates.
    The wrapper keeps no ordering state: whether a plan needs a ``Sort``
    is Catalyst's call, from the plan's own ``outputOrdering``.
    """

    def __init__(self, df: DataFrame):
        if TIME_COLUMN not in df.columns:
            raise ValueError("TimeSeriesDataFrame requires a 'time' column; use from_df()")
        require_ansi_off("TimeSeriesDataFrame", df.sparkSession)
        self._df = df

    # -- constructors -------------------------------------------------
    @classmethod
    def from_df(
        cls,
        df: DataFrame,
        time_column: str = TIME_COLUMN,
        time_unit: str | None = None,
    ) -> "TimeSeriesDataFrame":
        return cls(canonize(df, time_column, time_unit))

    @classmethod
    def from_parquet(
        cls,
        spark: SparkSession,
        path: str,
        columns: Sequence[str] | None = None,
        begin=None,
        end=None,
        time_column: str = TIME_COLUMN,
        time_unit: str | None = None,
    ) -> "TimeSeriesDataFrame":
        """Parquet scan with column pruning and [begin, end) time pruning.

        Both prunings reach the parquet reader through Catalyst pushdown
        (reference does this by hand: ``timeseries/TimeSeriesRDD.scala:400-461``).
        """
        df = spark.read.parquet(path)
        if begin is not None:
            df = df.filter(F.col(time_column) >= F.lit(begin))
        if end is not None:
            df = df.filter(F.col(time_column) < F.lit(end))
        if columns is not None:
            keep = [time_column] + [c for c in columns if c != time_column]
            df = df.select(*keep)
        return cls.from_df(df, time_column=time_column, time_unit=time_unit)

    @classmethod
    def from_csv(
        cls,
        spark: SparkSession,
        path: str,
        schema=None,
        header: bool = True,
        time_column: str = TIME_COLUMN,
        time_unit: str | None = None,
        **options,
    ) -> "TimeSeriesDataFrame":
        """CSV scan (reference ``timeseries/CSV.scala:48-182``)."""
        reader = spark.read.options(header=header, **options)
        df = reader.csv(path, schema=schema) if schema else reader.option(
            "inferSchema", True
        ).csv(path)
        return cls.from_df(df, time_column=time_column, time_unit=time_unit)

    @classmethod
    def from_pandas(cls, spark: SparkSession, pdf, time_column: str = TIME_COLUMN,
                    time_unit: str | None = None) -> "TimeSeriesDataFrame":
        return cls.from_df(spark.createDataFrame(pdf), time_column=time_column,
                           time_unit=time_unit)

    # -- basic accessors ----------------------------------------------
    @property
    def df(self) -> DataFrame:
        return self._df

    @property
    def schema(self) -> T.StructType:
        return self._df.schema

    @property
    def columns(self) -> list[str]:
        return self._df.columns

    def time_ns_col(self) -> Column:
        return time_ns_expr(self._df)

    def to_df(self, sort: bool = False) -> DataFrame:
        return self._df.sort(TIME_COLUMN) if sort else self._df

    def to_pandas(self):
        return self._df.sort(TIME_COLUMN).toPandas()

    @property
    def write(self):
        """Sorted writer (``df.write.parquet(...)`` etc.)."""
        return self._df.sort(TIME_COLUMN).write

    def preview(self, n: int = 10):
        """First n rows in time order (reference ``preview``,
        ``python/ts/flint/dataframe.py:1634-1640``)."""
        return self._df.sort(TIME_COLUMN).limit(n).toPandas()

    def count(self) -> int:
        return self._df.count()

    def cache(self) -> "TimeSeriesDataFrame":
        self._df.cache()
        return self

    def unpersist(self) -> "TimeSeriesDataFrame":
        self._df.unpersist()
        return self

    def repartition_by_range(self, n: int) -> "TimeSeriesDataFrame":
        """Physically range-partition on time (reference ``repartition``,
        ``rdd/OrderedRDD.scala:215-272``). One shuffle; gives every
        downstream time-local operator co-located data."""
        return self._wrap(self._df.repartitionByRange(n, TIME_COLUMN))

    def coalesce(self, n: int) -> "TimeSeriesDataFrame":
        return self._wrap(self._df.coalesce(n))

    def validate(self) -> None:
        """Assert time is globally non-decreasing in the physical layout.

        Reference ``validate()`` checks per-partition order plus
        partition range disjointness (``TimeSeriesRDD.scala:1872-1893``).
        Same decomposition here — within-partition monotonicity via
        ``lag`` over a ``spark_partition_id``-partitioned window (fully
        parallel) plus a tiny per-partition [min, max] overlap check on
        the driver — instead of one global ``Window.orderBy`` that would
        funnel the whole table through a single task."""
        pid = F.spark_partition_id().alias("_pid")
        rid = F.monotonically_increasing_id().alias("_rid")
        base = self._df.select(pid, rid, F.col(TIME_COLUMN))
        # order by the physical row id, NOT by time — ordering by time
        # would sort the partition and make the monotonicity check vacuous
        w = Window.partitionBy("_pid").orderBy("_rid")
        agg = (
            base
            .withColumn("_prev", F.lag(TIME_COLUMN).over(w))
            .groupBy("_pid")
            .agg(F.sum(F.when(F.col("_prev") > F.col(TIME_COLUMN), 1)
                       .otherwise(0)).alias("_bad"),
                 F.min(TIME_COLUMN).alias("_lo"),
                 F.max(TIME_COLUMN).alias("_hi"))
        )
        parts = sorted(agg.collect(), key=lambda r: r["_pid"])
        bad = sum(r["_bad"] for r in parts)
        if bad:
            raise AssertionError(f"{bad} out-of-order rows within partitions")
        nonempty = [r for r in parts if r["_lo"] is not None]
        for a, b in zip(nonempty, nonempty[1:]):
            if a["_hi"] > b["_lo"]:
                raise AssertionError(
                    f"partition ranges overlap: p{a['_pid']} [..{a['_hi']}] vs "
                    f"p{b['_pid']} [{b['_lo']}..]")

    def _wrap(self, df: DataFrame) -> "TimeSeriesDataFrame":
        return TimeSeriesDataFrame(df)

    # -- projections / filters / row ops (reference §2.2) -------------
    def keep_columns(self, *cols: str) -> "TimeSeriesDataFrame":
        """Projection; time always kept (reference ``TimeSeriesRDD.scala:700-712``)."""
        return self._wrap(self._df.select(TIME_COLUMN, *[c for c in cols if c != TIME_COLUMN]))

    def delete_columns(self, *cols: str) -> "TimeSeriesDataFrame":
        if TIME_COLUMN in cols:
            raise ValueError("cannot drop the time column")
        return self._wrap(self._df.drop(*cols))

    def rename_columns(self, mapping: Mapping[str, str]) -> "TimeSeriesDataFrame":
        if TIME_COLUMN in mapping:
            raise ValueError("cannot rename the time column")
        df = self._df
        for old, new in mapping.items():
            df = df.withColumnRenamed(old, new)
        if len(set(df.columns)) != len(df.columns):
            raise ValueError("duplicate column names after rename")
        return self._wrap(df)

    def cast(self, mapping: Mapping[str, str]) -> "TimeSeriesDataFrame":
        if TIME_COLUMN in mapping:
            raise ValueError("cannot cast the time column")
        df = self._df
        for c, t in mapping.items():
            df = df.withColumn(c, F.col(c).cast(t))
        return self._wrap(df)

    def filter(self, condition: Column | str) -> "TimeSeriesDataFrame":
        return self._wrap(self._df.filter(condition))

    keep_rows = filter

    def delete_rows(self, condition: Column | str) -> "TimeSeriesDataFrame":
        cond = F.expr(condition) if isinstance(condition, str) else condition
        return self._wrap(self._df.filter(~cond))

    def add_columns(self, **exprs: Column) -> "TimeSeriesDataFrame":
        """Add derived columns (reference ``addColumns``,
        ``TimeSeriesRDD.scala:740-759``) — expression-based, not lambdas."""
        return self._wrap(self._df.withColumns(dict(exprs)))

    def set_time(self, expr: Column) -> "TimeSeriesDataFrame":
        """Recompute the time column (the reference assumes the new time
        is monotonic, ``TimeSeriesRDD.scala:1263-1284``; no order is
        assumed here)."""
        df = self._df.withColumn(TIME_COLUMN, expr)
        return self._wrap(canonize(df))

    def shift(self, duration: str | int, backward: bool = False) -> "TimeSeriesDataFrame":
        """Shift all timestamps by a duration (monotonic => order kept).

        Reference ``shift``/``shiftTime`` (``TimeSeriesRDD.scala:1220-1247``);
        TimestampType rounds to µs like the reference's timestamp timetype
        (``timeseries/time/types/TimeType.scala:51-55``).
        """
        ns = parse_duration_ns(duration)
        if backward:
            ns = -ns
        dtype = dict(self._df.dtypes)[TIME_COLUMN]
        if dtype.startswith("timestamp"):
            micros = F.unix_micros(F.col(TIME_COLUMN).cast("timestamp")) + F.lit(ns // 1000)
            shifted = F.timestamp_micros(micros)
            if dtype == "timestamp_ntz":
                shifted = shifted.cast(dtype)
        else:
            shifted = (F.col(TIME_COLUMN) + F.lit(ns)).cast("long")
        return self._wrap(self._df.withColumn(TIME_COLUMN, shifted))

    # -- operator delegates (implemented in flint_spark.operators) -----
    def look_backward_clock(self, shift_amount: str) -> "TimeSeriesDataFrame":
        """Deprecated reference alias (``TimeSeriesRDD.scala:1231-1232``):
        shift timestamps backward."""
        return self.shift(shift_amount, backward=True)

    def look_forward_clock(self, shift_amount: str) -> "TimeSeriesDataFrame":
        """Deprecated reference alias (``TimeSeriesRDD.scala:1246-1247``):
        shift timestamps forward."""
        return self.shift(shift_amount)

    def left_join(self, right: "TimeSeriesDataFrame", tolerance: str | int = 0,
                  key: Sequence[str] = (), left_alias: str | None = None,
                  right_alias: str | None = None,
                  distributed: bool | None = None,
                  hot_key_guard: float | None = None) -> "TimeSeriesDataFrame":
        from .operators.asof import left_join
        return self._wrap(left_join(self._df, right._df, tolerance, key,
                                    left_alias, right_alias,
                                    distributed=distributed,
                                    hot_key_guard=hot_key_guard))

    def future_left_join(self, right: "TimeSeriesDataFrame", tolerance: str | int = 0,
                         key: Sequence[str] = (), left_alias: str | None = None,
                         right_alias: str | None = None,
                         strict_lookahead: bool = False) -> "TimeSeriesDataFrame":
        from .operators.asof import future_left_join
        return self._wrap(future_left_join(self._df, right._df, tolerance, key,
                                           left_alias, right_alias, strict_lookahead))

    def merge(self, other: "TimeSeriesDataFrame") -> "TimeSeriesDataFrame":
        from .operators.asof import merge
        return self._wrap(merge(self._df, other._df))

    def group_by_cycle(self, key: Sequence[str] = ()) -> "TimeSeriesDataFrame":
        from .operators.cycles import group_by_cycle
        return self._wrap(group_by_cycle(self._df, key))

    def summarize_cycles(self, summarizer, key: Sequence[str] = ()) -> "TimeSeriesDataFrame":
        """Summarizer object, or a reference-style udf dict
        (``{'out': udf(...)(self['v'])}`` — dispatches to
        ``functions.summarize_cycles_calls``, matching
        ``python/ts/flint/dataframe.py:922-1010``)."""
        if isinstance(summarizer, Mapping):
            from .functions import summarize_cycles_calls
            return self._wrap(
                summarize_cycles_calls(self._df, summarizer, key))
        from .operators.cycles import summarize_cycles
        return self._wrap(summarize_cycles(self._df, summarizer, key))

    def add_columns_for_cycle(self, columns, key: Sequence[str] = ()) -> "TimeSeriesDataFrame":
        from .operators.cycles import add_columns_for_cycle
        return self._wrap(add_columns_for_cycle(self._df, columns, key))

    def group_by_interval(self, clock, key: Sequence[str] = (), inclusion: str = "begin",
                          rounding: str = "end") -> "TimeSeriesDataFrame":
        from .operators.intervals import group_by_interval
        return self._wrap(group_by_interval(self._df, clock, key, inclusion, rounding))

    def summarize_intervals(self, clock, summarizer, key: Sequence[str] = (),
                            inclusion: str = "begin", rounding: str = "end"
                            ) -> "TimeSeriesDataFrame":
        from .operators.intervals import summarize_intervals
        return self._wrap(summarize_intervals(self._df, clock, summarizer, key,
                                              inclusion, rounding))

    def summarize_intervals_multi(self, granularities, summarizer,
                                  key: Sequence[str] = ()) -> DataFrame:
        """Multi-granularity rollup (one scan, GROUPING SETS); returns a
        plain DataFrame — rows mix granularities, so no single time
        order exists."""
        from .operators.intervals import summarize_intervals_multi
        return summarize_intervals_multi(self._df, granularities, summarizer, key)

    def summarize(self, summarizer, key: Sequence[str] = ()) -> "TimeSeriesDataFrame":
        from .operators.aggregate import summarize
        return self._wrap(summarize(self._df, summarizer, key))

    def summarize_state(self, summarizer, key: Sequence[str] = ()) -> DataFrame:
        """Raw aggregation state per key (reference ``summarizeState``,
        ``TimeSeriesRDD.scala:1188-1196``); returns a plain DataFrame —
        the reference returns a Map, not a TimeSeriesRDD."""
        from .operators.aggregate import summarize_state
        return summarize_state(self._df, summarizer, key)

    def group_by(self, *cols):
        """Plain Spark groupBy delegate (reference exposes ``groupBy``
        and ``groupby`` on the wrapper, ``python/ts/flint/dataframe.py``)."""
        return self._df.groupBy(*cols)

    groupby = group_by

    def add_summary_columns(self, summarizer, key: Sequence[str] = (),
                            **kwargs) -> "TimeSeriesDataFrame":
        from .operators.aggregate import add_summary_columns
        return self._wrap(add_summary_columns(self._df, summarizer, key,
                                              **kwargs))

    def summarize_windows(self, window, summarizer, key: Sequence[str] = (),
                          **kwargs) -> "TimeSeriesDataFrame":
        """Summarizer object, or a reference-style udf dict
        (``{'mean': udf(...)(self['v'])}`` — dispatches to
        ``functions.summarize_windows_calls``, matching
        ``python/ts/flint/dataframe.py:1099-1240``)."""
        if isinstance(summarizer, Mapping):
            from .functions import summarize_windows_calls
            return self._wrap(
                summarize_windows_calls(self._df, window, summarizer, key))
        from .operators.windows_ops import summarize_windows
        return self._wrap(summarize_windows(self._df, window, summarizer, key,
                                            **kwargs))

    def add_windows(self, window, key: Sequence[str] = (),
                    **kwargs) -> "TimeSeriesDataFrame":
        from .operators.windows_ops import add_windows
        return self._wrap(add_windows(self._df, window, key, **kwargs))

    def summarize_windows_overlap(self, window, overlap, summarizer,
                                  key: Sequence[str] = ()) -> "TimeSeriesDataFrame":
        from .operators.windows_ops import summarize_windows_overlap
        return self._wrap(summarize_windows_overlap(self._df, window, overlap,
                                                    summarizer, key))

    def ewma(self, column: str, alpha: float = 0.05,
             duration_per_period: str = "1d", convention: str = "legacy",
             key: Sequence[str] = ()) -> "TimeSeriesDataFrame":
        from .operators.ema import ewma
        return self._wrap(ewma(self._df, column, alpha, duration_per_period,
                               convention, key))

    def exponential_smoothing(self, column: str, **kwargs) -> "TimeSeriesDataFrame":
        from .operators.ema import exponential_smoothing
        return self._wrap(exponential_smoothing(self._df, column, **kwargs))

    def ema_half_life(self, column: str, half_life: str, **kwargs
                      ) -> "TimeSeriesDataFrame":
        from .operators.ema import ema_half_life
        return self._wrap(ema_half_life(self._df, column, half_life, **kwargs))

    def back_adjust(self, actions: "TimeSeriesDataFrame",
                    price_cols: Sequence[str], **kwargs
                    ) -> "TimeSeriesDataFrame":
        """Split/dividend back-adjustment: multiply each price column
        by the product of action factors strictly after the row's time
        (``operators.adjust.back_adjust``)."""
        from .operators.adjust import back_adjust
        return self._wrap(back_adjust(self._df, actions._df, price_cols,
                                      **kwargs))

    def ewm_volatility(self, column: str, **kwargs
                       ) -> "TimeSeriesDataFrame":
        from .operators.ema import ewm_volatility
        return self._wrap(ewm_volatility(self._df, column, **kwargs))

    def ewm_corr(self, x: str, y: str, **kwargs) -> "TimeSeriesDataFrame":
        from .operators.ema import ewm_corr
        return self._wrap(ewm_corr(self._df, x, y, **kwargs))

    def ewm_corr_windowed(self, x: str, y: str, window, **kwargs
                          ) -> "TimeSeriesDataFrame":
        from .operators.ema import ewm_corr_windowed
        return self._wrap(ewm_corr_windowed(self._df, x, y, window,
                                            **kwargs))

    def brown_double_smoothing(self, column: str, **kwargs
                               ) -> "TimeSeriesDataFrame":
        from .operators.ema import brown_double_smoothing
        return self._wrap(brown_double_smoothing(self._df, column,
                                                 **kwargs))

    def ewm_volatility_windowed(self, column: str, window, **kwargs
                                ) -> "TimeSeriesDataFrame":
        from .operators.ema import ewm_volatility_windowed
        return self._wrap(ewm_volatility_windowed(self._df, column,
                                                  window, **kwargs))

    def ewma_windowed(self, column: str, window, **kwargs
                      ) -> "TimeSeriesDataFrame":
        from .operators.ema import ewma_windowed
        return self._wrap(ewma_windowed(self._df, column, window, **kwargs))

    def exponential_smoothing_windowed(self, column: str, window, **kwargs
                                       ) -> "TimeSeriesDataFrame":
        from .operators.ema import exponential_smoothing_windowed
        return self._wrap(exponential_smoothing_windowed(
            self._df, column, window, **kwargs))

    def symmetric_join(self, right: "TimeSeriesDataFrame",
                       tolerance: str | int = 0, key: Sequence[str] = (),
                       **kwargs) -> "TimeSeriesDataFrame":
        from .operators.asof import symmetric_join
        r = right._df if isinstance(right, TimeSeriesDataFrame) else right
        return self._wrap(symmetric_join(self._df, r, tolerance, key, **kwargs))

    def left_join_broadcast(self, right: "TimeSeriesDataFrame",
                            tolerance: str | int = 0,
                            key: Sequence[str] = (),
                            **kwargs) -> "TimeSeriesDataFrame":
        from .operators.asof import left_join_broadcast
        r = right._df if isinstance(right, TimeSeriesDataFrame) else right
        return self._wrap(left_join_broadcast(self._df, r, tolerance, key,
                                              **kwargs))

    def nearest_join(self, right: "TimeSeriesDataFrame",
                     tolerance: str | int = 0, key: Sequence[str] = (),
                     **kwargs) -> "TimeSeriesDataFrame":
        from .operators.asof import nearest_join
        r = right._df if isinstance(right, TimeSeriesDataFrame) else right
        return self._wrap(nearest_join(self._df, r, tolerance, key, **kwargs))

    def left_join_topk(self, right: "TimeSeriesDataFrame", k: int,
                       tolerance: str | int = 0, key: Sequence[str] = ()
                       ) -> "TimeSeriesDataFrame":
        """Last-k as-of join (:func:`operators.asof.left_join_topk`):
        the k most recent right rows per left row as arrays."""
        from .operators.asof import left_join_topk
        r = right._df if isinstance(right, TimeSeriesDataFrame) else right
        return self._wrap(left_join_topk(self._df, r, k, tolerance, key))

    def left_join_topk_broadcast(self, right: "TimeSeriesDataFrame",
                                 k: int, tolerance: str | int = 0,
                                 key: Sequence[str] = ()
                                 ) -> "TimeSeriesDataFrame":
        """Map-only last-k join against a small static right side
        (:func:`operators.asof.left_join_topk_broadcast`)."""
        from .operators.asof import left_join_topk_broadcast
        r = right._df if isinstance(right, TimeSeriesDataFrame) else right
        return self._wrap(left_join_topk_broadcast(self._df, r, k,
                                                   tolerance, key))

    def resample(self, clock, value_col: str, key: Sequence[str] = (),
                 method: str = "ffill",
                 tolerance: str | int = "36500d") -> "TimeSeriesDataFrame":
        from .operators.resample import resample
        return self._wrap(resample(self._df, clock, value_col, key, method,
                                   tolerance))

    def detect_anomalies(self, column: str, window: str | int = "1d",
                         k: float = 3.0, key: Sequence[str] = (),
                         min_baseline: int = 5) -> "TimeSeriesDataFrame":
        from .operators.windows_ops import detect_anomalies
        return self._wrap(detect_anomalies(self._df, column, window, k, key,
                                           min_baseline))

    def build_rollup(self, freq: str, measures: Sequence[str],
                     key: Sequence[str] = (), **kwargs) -> DataFrame:
        from .operators.intervals import build_rollup
        return build_rollup(self._df, freq, measures, key, **kwargs)

    def ols_regression(self, y: str, xs: Sequence[str], **kwargs) -> DataFrame:
        from .operators.regression import ols_regression
        return ols_regression(self._df, y, xs, **kwargs)

    def rolling_ols(self, y: str, x: str, window,
                    **kwargs) -> "TimeSeriesDataFrame":
        from .operators.regression import rolling_ols
        return self._wrap(rolling_ols(self._df, y, x, window, **kwargs))

    def rolling_ols_multi(self, y: str, xs: Sequence[str], window,
                          **kwargs) -> "TimeSeriesDataFrame":
        from .operators.regression import rolling_ols_multi
        return self._wrap(rolling_ols_multi(self._df, y, xs, window,
                                            **kwargs))

    def sessionize(self, gap: str | int = "30m",
                   key: Sequence[str] = ()) -> "TimeSeriesDataFrame":
        from .operators.sessions import sessionize
        return self._wrap(sessionize(self._df, gap, key))

    def ohlc_bars(self, interval: str | int, price_col: str,
                  key: Sequence[str] = (), **kwargs
                  ) -> "TimeSeriesDataFrame":
        """OHLC/VWAP/TWAP bars per epoch-aligned interval
        (:func:`operators.bars.ohlc_bars`); one exchange."""
        from .operators.bars import ohlc_bars
        return self._wrap(ohlc_bars(self._df, interval, price_col, key,
                                    **kwargs))

    def realized_volatility(self, interval: str | int, price_col: str,
                            key: Sequence[str] = (), **kwargs
                            ) -> "TimeSeriesDataFrame":
        """Per-bucket realized variance/vol from tick log-returns
        (:func:`operators.bars.realized_volatility`); one exchange."""
        from .operators.bars import realized_volatility
        return self._wrap(realized_volatility(self._df, interval,
                                              price_col, key, **kwargs))

    def bar_range_volatility(self) -> "TimeSeriesDataFrame":
        from .operators.bars import bar_range_volatility
        return self._wrap(bar_range_volatility(self._df))

    def drawdown(self, value_col: str, key: Sequence[str] = (),
                 **kwargs) -> "TimeSeriesDataFrame":
        from .operators.bars import drawdown
        return self._wrap(drawdown(self._df, value_col, key, **kwargs))

    def max_drawdown(self, value_col: str, key: Sequence[str] = (),
                     **kwargs) -> DataFrame:
        from .operators.bars import max_drawdown
        return max_drawdown(self._df, value_col, key, **kwargs)

    def transform(self, fn: Callable[[DataFrame], DataFrame]) -> "TimeSeriesDataFrame":
        """Apply an arbitrary DataFrame transform and wrap the result,
        which must keep the ``time`` column."""
        out = fn(self._df)
        if TIME_COLUMN not in out.columns:
            raise ValueError("transform dropped the time column")
        return TimeSeriesDataFrame(out)

    def __getattr__(self, name: str):
        """DataFrame-method passthrough: any attribute not defined on
        the wrapper resolves against the underlying DataFrame, and a
        DataFrame result that keeps the ``time`` column comes back as a
        ``TimeSeriesDataFrame`` (the reference's auto-wrap,
        ``python/ts/flint/dataframe.py:166-227``), so ``ts.select(...)``,
        ``ts.where(...)`` and ``ts.withColumn(...)`` chain. A result
        that drops ``time``, or a non-DataFrame result (``groupBy``,
        ``count``, column access), is returned unwrapped."""
        if name.startswith("__"):
            # never forward dunders (pickle/copy/ipython probes)
            raise AttributeError(name)
        df = self.__dict__.get("_df")
        if df is None:
            raise AttributeError(name)
        attr = getattr(df, name)
        if isinstance(attr, Column) or not callable(attr):
            # ts.<col> column access / properties (columns, schema, na…)
            return attr

        import functools

        @functools.wraps(attr)
        def call(*args, **kwargs):
            out = attr(*args, **kwargs)
            if isinstance(out, DataFrame) and TIME_COLUMN in out.columns:
                return TimeSeriesDataFrame(out)
            return out

        return call
