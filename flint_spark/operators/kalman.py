"""Kalman filtering for irregular time series (local-level model).

The one-dimensional state-space smoother quants reach for when EWMA's
fixed decay is not enough: a random-walk level observed with noise,

    l_i = l_{i-1} + w,  w ~ N(0, q * dt_i)     (process diffusion)
    x_i = l_i + v,      v ~ N(0, r)            (observation noise)

whose posterior mean updates per row as ``l += k (x - l)`` with a
DATA-INDEPENDENT but gap-adaptive gain ``k = P_pred / (P_pred + r)``,
``P_pred = P + q * dt``. Unlike an EWMA, the gain adapts to irregular
gaps (long gap -> more diffusion -> higher gain) and to the filter's
own transient (early rows trust observations more).

Engine notes: the gain/variance recursion is a scalar per-row loop
(rational in P — no closed form), so the per-key scan runs on the shared
complete-group Arrow engine (`functions._grouped_map`, through
`ema._apply_per_key`): one keyed exchange, many keys per Arrow batch, no
per-group round-trips. The recursion itself is NOT SQL-expressible as
window algebra, but it IS exactly replayable as a DuckDB ``WITH
RECURSIVE`` CTE stepping row-by-row — which is how the oracle gate
checks it.

Null policy (EWMA-family contract): a null/NaN observation scores null
and leaves the state untouched; diffusion is measured from the last
OBSERVED row, so skipped rows simply widen the next update's gap.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame

from ..timeseries import parse_duration_ns
from ..session import ansi_guard

__all__ = ["kalman_local_level"]


def _kf_scan_factory(q: float, r: float, p0: float, period_ns: float):
    """Per-key scan (t, x) -> levels, shared verbatim by the batch
    engine and the streaming fold (which adds carried state)."""

    def scan(t, x, state=None):
        last_t, level, var = state if state is not None else (None, 0.0, 0.0)
        out = np.empty(len(x), dtype=np.float64)
        for i in range(len(x)):
            xi = x[i]
            if np.isnan(xi):
                out[i] = np.nan
                continue
            if last_t is None:
                level, var = xi, p0
            else:
                # late (out-of-order) observations — possible only on
                # the streaming fold, whose state can be AHEAD of a
                # cross-trigger straggler — fold as same-time
                # corrections: diffusion never runs backwards (an
                # unclamped negative dt can drive the predicted
                # variance negative and poison the filter). Batch
                # input is globally sorted, so this never fires there.
                p_pred = var + q * max(t[i] - last_t, 0) / period_ns
                gain = p_pred / (p_pred + r)
                level = level + gain * (xi - level)
                var = (1.0 - gain) * p_pred
            # monotone: a late row must not rewind the clock (the next
            # in-order row would double-count its diffusion span)
            last_t = int(t[i]) if last_t is None else max(last_t, int(t[i]))
            out[i] = level
        return out, (last_t, float(level), float(var))

    return scan


@ansi_guard("kalman operator")
def kalman_local_level(df: DataFrame, column: str, q: float, r: float,
                       period: str | int = "1d", p0: float | None = None,
                       key: Sequence[str] = (),
                       tie_break: Sequence[str] = ()) -> DataFrame:
    """Kalman local-level filter per key: adds ``<column>_kf``, the
    posterior level estimate after each observation.

    ``q`` is the process variance per ``period`` of elapsed time
    (diffusion rate), ``r`` the observation variance, ``p0`` the prior
    variance at the first observation (default ``r``). One keyed
    exchange; the scan is a scalar O(n) recursion per key on the
    complete-group Arrow engine — when gaps are regular and the
    transient does not matter, the steady-state gain makes this an
    EWMA and `operators.ema` is the zero-Python path.
    """
    if not q >= 0 or not r > 0:
        raise ValueError(f"need q >= 0 and r > 0, got q={q} r={r}")
    p0 = float(r) if p0 is None else float(p0)
    period_ns = float(parse_duration_ns(period))
    scan = _kf_scan_factory(float(q), float(r), p0, period_ns)

    from .ema import _apply_per_key

    def fn(t, x):
        out, _ = scan(t, x)
        return out

    return _apply_per_key(df, column, f"{column}_kf", list(key), fn,
                          tie_break=tie_break)
