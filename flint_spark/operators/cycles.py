"""Cycle operators — a *cycle* is all rows sharing one timestamp.

Reference: ``groupByCycle`` / ``summarizeCycles`` / ``addColumnsForCycle``
(``timeseries/TimeSeriesRDD.scala:761-864,1071-1089``). The reference
streams each partition with a per-key group iterator; for us a cycle
aggregation is exactly ``groupBy('time', *key)`` — Spark's hash
aggregation with map-side partials, no order dependence, one shuffle.
"""

from __future__ import annotations

import re
from typing import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..summarizers import Summarizer
from ..timeseries import TIME_COLUMN, row_order
from ..session import ansi_guard


@ansi_guard("cycle operators")
def summarize_cycles(df: DataFrame, summarizer: Summarizer,
                     key: Sequence[str] = ()) -> DataFrame:
    key = list(key)
    out = df.groupBy(TIME_COLUMN, *key).agg(*summarizer.exprs(df))
    return out.select(TIME_COLUMN, *key, *[out[n] for n in summarizer.names])


@ansi_guard("cycle operators")
def group_by_cycle(df: DataFrame, key: Sequence[str] = ()) -> DataFrame:
    """One row per (time[, key]) with ``rows`` = sorted array of member
    structs (reference emits ``rows: ArrayType(inputSchema)``)."""
    key = list(key)
    members = F.sort_array(F.collect_list(F.struct(*[F.col(c) for c in df.columns])))
    return df.groupBy(TIME_COLUMN, *key).agg(members.alias("rows"))


@ansi_guard("cycle operators")
def add_columns_for_cycle(
    df: DataFrame,
    columns: Mapping[str, Column | Callable],
    key: Sequence[str] = (),
    order_by: Sequence[str | Column] = (),
) -> DataFrame:
    """Per-cycle derived columns, one value per member row.

    Two forms (reference ``timeseries/CycleColumn.scala:17-119``):
    - a Column expression using rank-like window functions — evaluated
      over ``Window.partitionBy(time, *key)`` (pass e.g.
      ``F.percent_rank()`` or any expression of window aggregates);
      rank-like functions order by ``order_by`` when given, else by
      the engine's row order (rows equal on every column are peers);
    - a pandas callable ``pdf -> pd.Series`` applied per cycle on the
      complete-group engine (cardinality-preserving).
    """
    key = list(key)
    w = Window.partitionBy(TIME_COLUMN, *key)
    ordered = w.orderBy(*(order_by or row_order(df, TIME_COLUMN, skip=key)))
    out = df
    pandas_items: list[tuple[str, Callable]] = []
    for name, spec in columns.items():
        if callable(spec) and not isinstance(spec, Column):
            pandas_items.append((name, spec))
        else:
            # window-function expressions need an ORDER BY for ranking fns
            out = out.withColumn(name, spec.over(ordered)
                                 if _needs_order(spec) else spec.over(w))
    if pandas_items:
        import pandas as pd
        from pyspark.sql import types as T

        def out_type(spec):
            # a bound functions.udf() call carries its declared type;
            # plain callables default to double (reference CycleColumn)
            rt = getattr(spec, "return_type", None)
            return rt if isinstance(rt, T.DataType) else T.DoubleType()

        full = T.StructType(list(out.schema.fields) +
                            [T.StructField(n, out_type(f))
                             for n, f in pandas_items])
        names = [f.name for f in full.fields]

        # many cycles per Arrow batch (functions._grouped_map) instead
        # of one applyInPandas round-trip per cycle — see the
        # grouped-UDF engine note in `git show 3936ed2:docs/BENCH_NOTES.md`
        def per_cycle(head: pd.DataFrame, segs: list) -> pd.DataFrame:
            frames = []
            for s0, s1 in zip(segs, segs[1:]):
                g = head.iloc[s0:s1].copy()
                for n, f in pandas_items:
                    g[n] = f(g)
                frames.append(g)
            return pd.concat(frames, ignore_index=True)[names]

        from ..functions import _grouped_map
        out = _grouped_map(out, [TIME_COLUMN] + key, TIME_COLUMN,
                           per_cycle, full)
    return out


_RANKING_CALL = re.compile(
    r"\b(percent_rank|dense_rank|rank|row_number|ntile|cume_dist|lag|lead)\(")


_RANKING_NAMES = {"percent_rank", "dense_rank", "rank", "row_number",
                  "ntile", "cume_dist", "lag", "lead"}


def _needs_order(col: Column) -> bool:
    """True iff the expression CALLS a ranking window function.

    Walks the Catalyst expression tree and checks function-call nodes
    only, so a string LITERAL containing ``"rank("`` can never
    misclassify (r2 advice). Falls back to a function-call regex over
    the structured rendering if the JVM tree is unreachable (e.g.
    Spark Connect columns)."""
    try:
        stack = [col._jc.expr()]
        while stack:
            e = stack.pop()
            cls = e.getClass().getSimpleName()
            if cls == "UnresolvedFunction":
                # renders as 'name(args...); literals never take this path
                name = str(e).lstrip("'").split("(", 1)[0].strip()
                if name.lower() in _RANKING_NAMES:
                    return True
            elif cls in ("PercentRank", "DenseRank", "Rank", "RowNumber",
                         "NTile", "CumeDist", "Lag", "Lead"):
                return True
            ch = e.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        return False
    except Exception:  # noqa: BLE001 - connect/py-only columns
        return bool(_RANKING_CALL.search(str(col)))
