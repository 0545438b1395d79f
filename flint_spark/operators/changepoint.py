"""Change-point / drift detection over ordered series.

Page's CUSUM (the classic sequential drift detector) is a reset
recursion — ``s+_i = max(0, s+_{i-1} + z_i - k)`` — which looks like it
needs a per-row scan. It doesn't: a max(0, .)-reset cumulative sum
equals the plain prefix sum minus its running minimum (clamped at the
empty prefix),

    s+_i = c_i - min(0, min_{j<=i} c_j),   c_i = sum_{t<=i} (z_t - k)

so the whole detector is two window stages over ONE sort: a prefix sum,
then the running min of that prefix sum — both on the same
(key, time) ordering, one data exchange, zero Python. The reference has
no change-point operator; this extends the summarizer family the same
way `detect_anomalies` (rolling z-score) does, and at 100 TB it scales
exactly like `cumulative`: O(n) per partition, no extra shuffle beyond
the keyed sort.

Null policy matches the EWMA family's null-skip contract: a null value
contributes zero to both cumulative statistics (the detector state
carries over it unchanged) and the row reports null z / null alarms.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..timeseries import row_order
from . import _route

__all__ = ["cusum"]


def _cusum_keyless_distributed(df: DataFrame, column: str, k: float,
                               h: float, mu: float | None,
                               sigma: float | None,
                               tie_break: Sequence[str]) -> DataFrame:
    """Distributed keyless CUSUM: the prefix-sum-minus-running-min
    identity split across two :func:`~.prefix.keyless_cumulative`
    passes that share ONE data exchange (pass 2 reuses pass 1's
    ``keep_layout`` hash layout; each pass adds only a P-row carry
    job — budget pinned in ``test_keyless_engine_exchange_budget``)."""
    from .prefix import keyless_cumulative

    x = F.when(~F.isnan(F.col(column).cast("double")), F.col(column))
    if mu is None or sigma is None:
        stats = df.select(F.avg(x).alias("mu"),
                          F.stddev_samp(x).alias("sd")).first()
        mu_v = float(mu) if mu is not None else stats["mu"]
        sd_v = float(sigma) if sigma is not None else stats["sd"]
    else:
        mu_v, sd_v = float(mu), float(sigma)
    mu_e = F.lit(mu_v) if mu_v is not None else F.lit(None).cast("double")
    sd_e = F.lit(sd_v) if sd_v is not None and sd_v > 0 \
        else F.lit(None).cast("double")
    z = (x - mu_e) / sd_e
    up_step = F.coalesce(z - F.lit(float(k)), F.lit(0.0))
    dn_step = F.coalesce(-z - F.lit(float(k)), F.lit(0.0))

    p1 = keyless_cumulative(
        df,
        [("cup", lambda d, o: o(F.sum(up_step)), "sum"),
         ("cdn", lambda d, o: o(F.sum(dn_step)), "sum")],
        lambda st: {"__cz": z, "__cup": st["cup"], "__cdn": st["cdn"]},
        tie_break=[*tie_break, column], keep_layout=True)

    cup, cdn = F.col("__cup"), F.col("__cdn")

    def render(st):
        s_pos = cup - F.least(F.lit(0.0), st["mup"])
        s_neg = cdn - F.least(F.lit(0.0), st["mdn"])
        guard = F.col("__cz").isNotNull()
        return {
            f"{column}_cusum_pos": F.when(guard, s_pos),
            f"{column}_cusum_neg": F.when(guard, s_neg),
            f"{column}_alarm": F.when(
                guard, (s_pos > float(h)) | (s_neg > float(h))),
        }

    return keyless_cumulative(
        p1,
        [("mup", lambda d, o: o(F.min(cup)), "min"),
         ("mdn", lambda d, o: o(F.min(cdn)), "min")],
        render, tie_break=[*tie_break, column])


def cusum(df: DataFrame, column: str, k: float = 0.5, h: float = 5.0,
          mu: float | None = None, sigma: float | None = None,
          key: Sequence[str] = (),
          tie_break: Sequence[str] = (),
          distributed: bool | None = None) -> DataFrame:
    """Two-sided tabular CUSUM drift detector (Page 1954).

    Standardizes ``column`` to ``z = (x - mu) / sigma`` and maintains

        s+ = max(0, s+ + z - k)      (upward drift)
        s- = max(0, s- - z - k)      (downward drift)

    via the prefix-sum-minus-running-min identity (no recursion, no
    Python). Adds ``<column>_cusum_pos``, ``<column>_cusum_neg`` and
    ``<column>_alarm`` (true when either side exceeds ``h``).

    ``mu``/``sigma`` default to the per-key series mean / sample
    stddev, computed with an unbounded frame over the SAME partitioning
    (no extra exchange); pass explicit in-control targets for the
    classical monitoring setup (and the streaming twin, which cannot
    see the future). Keys whose sigma is null/zero yield null scores.

    ``k`` is the slack and ``h`` the alarm threshold, both in sigma
    units (textbook defaults 0.5 / 5). Rows scan in the engine's row
    order (time, ``tie_break``, the value, the other columns).

    KEYLESS input auto-routes through the distributed prefix engine
    (``distributed`` as in ``left_join``): both prefix sums run as one
    two-phase partition-partials pass and the running min of each
    prefix sum as a second pass over the SAME hash layout (the
    engine's ``keep_layout`` reuse). Exchange budget, pinned by
    ``plan_counts`` in the tests: ONE data exchange (the engine's
    value-derived ``__pid`` hash layout, which every data-scale
    window/aggregate in both passes reuses) plus two P-row carry
    exchanges — tiny by construction. (r7 shipped this as "zero extra
    exchanges" while the layout was ``spark_partition_id`` over a
    range exchange, which the ``__pid`` windows could NOT reuse —
    Catalyst inserted a silent full hash exchange per pass, 3 data
    exchanges total; ADVICE r7.) Estimated mu/sigma come from one
    partial+final aggregation instead of an unbounded single-task
    window.
    """
    if not list(key) and _route.keyless_distributed(
            lambda: _route.estimated_bytes(df), distributed):
        return _cusum_keyless_distributed(df, column, k, h, mu, sigma,
                                          tie_break)
    keyc = [F.col(c) for c in key]
    # one order list for every window below, so Catalyst keeps one Sort
    order = row_order(df, tie_break=tie_break, values=[column], skip=key)
    w_run = (Window.partitionBy(*keyc).orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))

    # NaN guard FIRST: NaN is not null, survives coalesce, poisons the
    # prefix sums AND the estimated mean/stddev forever, and compares
    # greater than h (alarm stuck True). Treat NaN exactly like null —
    # frozen state, null score — matching cusum_stream's ~isnan rule.
    x = F.when(~F.isnan(F.col(column).cast("double")), F.col(column))
    if mu is None or sigma is None:
        # materialize the per-key stats ONCE (a single unbounded-frame
        # Window node); building z from raw window expressions would
        # extract a duplicated stats node per downstream projection
        w_all = (Window.partitionBy(*keyc).orderBy(*order)
                 .rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing))
        df = df.withColumns({
            "__mu": F.lit(float(mu)) if mu is not None else F.avg(x).over(w_all),
            "__sd": (F.lit(float(sigma)) if sigma is not None
                     else F.stddev_samp(x).over(w_all)),
        })
        mu_e: Column = F.col("__mu")
        sd_e: Column = F.col("__sd")
        drop_stats = ["__mu", "__sd"]
    else:
        mu_e, sd_e = F.lit(float(mu)), F.lit(float(sigma))
        drop_stats = []
    sd_e = F.when(sd_e > 0, sd_e)  # null out degenerate scales

    z = (x - mu_e) / sd_e
    # null-skip: a null value (or degenerate sigma) contributes nothing
    # to either cumulative path; the slack -k applies only on observed
    # rows so the detector state is frozen across gaps.
    up_step = F.coalesce(z - F.lit(float(k)), F.lit(0.0))
    dn_step = F.coalesce(-z - F.lit(float(k)), F.lit(0.0))

    # stage 1: prefix sums (ONE projection -> one Window node)
    df1 = df.withColumns({
        "__cz": z,
        "__cup": F.sum(up_step).over(w_run),
        "__cdn": F.sum(dn_step).over(w_run),
    })
    # stage 2: running min of the prefix sums (same sort, no exchange)
    cup, cdn = F.col("__cup"), F.col("__cdn")
    s_pos = cup - F.least(F.lit(0.0), F.min(cup).over(w_run))
    s_neg = cdn - F.least(F.lit(0.0), F.min(cdn).over(w_run))
    z_out = F.col("__cz")
    guard = z_out.isNotNull()  # null value or degenerate sigma
    return (df1
            .withColumns({
                f"{column}_cusum_pos": F.when(guard, s_pos),
                f"{column}_cusum_neg": F.when(guard, s_neg),
                f"{column}_alarm": F.when(
                    guard, (s_pos > float(h)) | (s_neg > float(h))),
            })
            .drop("__cz", "__cup", "__cdn", *drop_stats))
