"""Corporate-action back-adjustment: apply split/dividend factors
retroactively to a price series.

The flint-style tick workflow (as-of joins between trades and
reference data — ``TimeSeriesRDD.scala:996-1080``'s motivating use
case) constantly needs SPLIT-ADJUSTED prices: a 2:1 split at time s
multiplies every price BEFORE s by 0.5 so the series is continuous.
The adjustment for a row at time t is the product of the factors of
every action strictly after t.

Plan shape (both steps reuse gated machinery):

1. actions aggregate to one row per (key, time) — ``F.product`` of
   same-instant factors — then ONE descending window computes the
   suffix running product ``Π factors at time >= this action``
   (cumulative product over a desc order: one exchange + sort, O(n));
2. a STRICT forward as-of join (``future_left_join`` with
   ``strict_lookahead=True``) attaches each price row's first action
   after t, whose suffix product is exactly ``Π factors with
   action_time > t``; unmatched rows adjust by 1.0.

No inequality join, no per-row recompute: one window pass over the
(small) actions table + the standard single-exchange as-of join.
Products of real split ratios (binary fractions: 0.5, 0.25, 2, 4) are
exact in doubles, so the adjustment replays bitwise in SQL.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..timeseries import TIME_COLUMN
from ..session import ansi_guard


@ansi_guard("back-adjust operator")
def back_adjust(prices: DataFrame, actions: DataFrame,
                price_cols: Sequence[str], factor_col: str = "factor",
                key: Sequence[str] = (), tolerance: str = "36500d",
                suffix: str = "_adj") -> DataFrame:
    """Back-adjust ``price_cols`` by the product of all ``factor_col``
    values of actions strictly after each row's time (per key).
    Appends ``<col><suffix>`` columns; rows with no later action get
    the unadjusted value. ``tolerance`` bounds the forward as-of
    lookahead (default ~100 years — effectively unbounded)."""
    from . import asof

    key = list(key)
    per_instant = (actions
                   .groupBy(*key, TIME_COLUMN)
                   .agg(F.product(factor_col).alias("__f")))
    # (key, time) is unique per instant, so the range frame has no ties
    w = (Window.partitionBy(*key)
         .orderBy(F.col(TIME_COLUMN).desc())
         .rangeBetween(Window.unboundedPreceding, Window.currentRow))
    sfx = per_instant.select(
        TIME_COLUMN, *key, F.product("__f").over(w).alias("__adj"))
    joined = asof.future_left_join(prices, sfx, tolerance=tolerance,
                                   key=key, strict_lookahead=True)
    adj = F.coalesce(F.col("__adj"), F.lit(1.0))
    out = joined
    for c in price_cols:
        out = out.withColumn(f"{c}{suffix}", F.col(c) * adj)
    return out.drop("__adj")
