"""Reference API-name parity shim (``ts.flint``'s camelCase surface).

The reference's Python bindings expose camelCase methods on
``TimeSeriesDataFrame`` (``leftJoin`` — ``python/ts/flint/dataframe.py:576``,
``futureLeftJoin:611``, ``summarizeCycles:729``, ``summarizeIntervals:933``,
``summarizeWindows:1099``, ``addColumnsForCycle:295``, ``summarize:1493``,
``addSummaryColumns:1531``, ``addWindows:1553``, ``shiftTime:1570``,
``groupByCycle:656``, ``groupByInterval:685``) plus a ``FlintContext``
entry point (``python/ts/flint/context.py:32``) whose ``.read`` builder
mirrors ``readwriter.py``. A flint user porting code hits 100% rename
friction without these, so this module installs thin aliases over the
snake_case engine — argument conventions included (``key`` may be None,
a single string, or a list — ``dataframe.py:576`` doc; ``tolerance``
defaults to None meaning exact-match 0ns; ``left_alias``/``right_alias``
prefix each side's data columns).

Importing :mod:`flint_spark` installs the aliases; the ``ts.flint``
namespace mirror at the repo root re-exports everything so the
reference's own ``from ts.flint import FlintContext, summarizers``
runs verbatim.

**Migrating RDD-era constructors** (``fromRDD``/``fromSeq``/
``fromDFWithRanges``, reference ``TimeSeriesRDD.scala:147-179,463-509``):
those constructors exist to INJECT hand-built partition-range metadata
(``PartitionInfo``) so the reference engine can skip its sort. This
engine has no partition metadata to inject — each operator sorts
what it needs, Catalyst skips a sort the plan's own ordering already
gives, and physical locality is Spark's own partitioning — so the port
is:

>>> df = spark.createDataFrame(rows_or_rdd, schema)   # fromRDD/fromSeq
>>> tsdf = TimeSeriesDataFrame.from_df(
...     df.repartitionByRange(n_parts, "time"), time_column="time")

``repartitionByRange`` reproduces what ``PartitionInfo`` encoded —
time-contiguous partitions (one exchange, the cost the reference's
metadata avoided); drop it if you don't need range locality, since
``from_df`` alone is already correct. Code that built
``fromDFWithRanges`` with OVERLAPPING custom ranges has no equivalent
here by design — overlapping partitions exist to serve the reference's
range-merge join, which this engine plans differently (union-window /
broadcast as-of). Pinned by ``tests/test_extensions.py::
test_rdd_era_constructor_migration_recipe``.
"""

from __future__ import annotations

from .context import FlintContext  # noqa: F401 — re-export (ts.flint)
from .summarizers import (  # noqa: F401 — re-exports (ts.flint)
    OlsSummarizerSpec,
    ema_halflife,
    linear_regression,
)
from .timeseries import TIME_COLUMN, TimeSeriesDataFrame


def _key(key) -> list:
    """Reference key convention: None -> no key, str -> one column,
    else a list of columns (``dataframe.py:576`` examples)."""
    if key is None:
        return []
    if isinstance(key, str):
        return [key]
    return list(key)


def _aliased(tsdf: TimeSeriesDataFrame, alias: str | None,
             key: list) -> TimeSeriesDataFrame:
    """Prefix a side's data columns (never time or key) with
    ``<alias>_`` — the reference's join alias semantics
    (``TimeSeriesRDD.scala:1002-1003``)."""
    if not alias:
        return tsdf
    keep = {TIME_COLUMN, *key}
    return tsdf.rename_columns(
        {c: f"{alias}_{c}" for c in tsdf.columns if c not in keep})


def _leftJoin(self, right, *, tolerance=None, key=None,
              left_alias=None, right_alias=None):
    """Reference ``leftJoin`` (``dataframe.py:576``): as-of backward."""
    k = _key(key)
    return _aliased(self, left_alias, k).left_join(
        _aliased(right, right_alias, k),
        tolerance=0 if tolerance is None else tolerance, key=k)


def _futureLeftJoin(self, right, *, tolerance=None, key=None,
                    left_alias=None, right_alias=None,
                    strict_lookahead=False):
    """Reference ``futureLeftJoin`` (``dataframe.py:611``)."""
    k = _key(key)
    return _aliased(self, left_alias, k).future_left_join(
        _aliased(right, right_alias, k),
        tolerance=0 if tolerance is None else tolerance, key=k,
        strict_lookahead=strict_lookahead)


def _install() -> None:
    """Attach the camelCase aliases to ``TimeSeriesDataFrame``."""
    T = TimeSeriesDataFrame
    T.leftJoin = _leftJoin
    T.futureLeftJoin = _futureLeftJoin
    T.groupByCycle = lambda self, key=None: self.group_by_cycle(_key(key))
    T.groupByInterval = (
        lambda self, clock, key=None, inclusion="begin", rounding="end":
        self.group_by_interval(clock, _key(key), inclusion, rounding))
    T.summarizeCycles = (lambda self, summarizer, key=None:
                         self.summarize_cycles(summarizer, _key(key)))
    T.summarizeIntervals = (
        lambda self, clock, summarizer, key=None, inclusion="begin",
        rounding="end":
        self.summarize_intervals(clock, summarizer, _key(key),
                                 inclusion, rounding))
    T.summarizeWindows = (lambda self, window, summarizer, key=None:
                          self.summarize_windows(window, summarizer,
                                                 _key(key)))
    T.summarize = _summarize_camel_aware(T.summarize)
    T.summarizeState = (lambda self, summarizer, key=None:
                        self.summarize_state(summarizer, _key(key)))
    T.addSummaryColumns = (lambda self, summarizer, key=None:
                           self.add_summary_columns(summarizer, _key(key)))
    T.addColumnsForCycle = (lambda self, columns, *, key=None:
                            self.add_columns_for_cycle(columns, _key(key)))
    T.addWindows = (lambda self, window, key=None:
                    self.add_windows(window, _key(key)))
    T.shiftTime = (lambda self, shift, *, backwards=False:
                   self.shift(shift, backward=backwards))
    T.toPandas = lambda self: self.to_pandas()
    # reference TimeSeriesDataFrame IS a DataFrame, so its toDF(*cols)
    # renames columns — preserve that; bare toDF() unwraps
    T.toDF = (lambda self, *cols:
              self.to_df().toDF(*cols) if cols else self.to_df())
    T.groupBy = lambda self, *cols: self.group_by(*cols)
    T.groupby = lambda self, *cols: self.group_by(*cols)
    T.keepRows = lambda self, condition: self.filter(condition)
    T.deleteRows = lambda self, condition: self.delete_rows(condition)
    T.keepColumns = lambda self, *cols: self.keep_columns(*cols)
    T.deleteColumns = lambda self, *cols: self.delete_columns(*cols)
    T.renameColumns = lambda self, mapping: self.rename_columns(mapping)
    T.setTime = lambda self, expr: self.set_time(expr)


def _summarize_camel_aware(orig_summarize):
    def summarize(self, summarizer, key=None):
        k = _key(key)
        if isinstance(summarizer, OlsSummarizerSpec):
            from pyspark.sql import functions as F

            from .operators.regression import ols_regression
            from .timeseries import ns_to_time_expr

            out = ols_regression(
                self.df, summarizer.y, summarizer.xs,
                weight=summarizer.weight,
                intercept=summarizer.use_intercept, key=k,
                ignore_constants=summarizer.ignore_constants)
            # reference summarize() prepends time=0 (whole-table
            # summaries) — match it so ported code sees the same shape
            zero = ns_to_time_expr(F.lit(0).cast("long"),
                                   dict(self.df.dtypes)[TIME_COLUMN])
            # wrap like every other summarize branch — ported code
            # chains TSDF methods off the result
            return self._wrap(out.select(zero.alias(TIME_COLUMN), "*"))
        return orig_summarize(self, summarizer, k)

    return summarize


_install()
