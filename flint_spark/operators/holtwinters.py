"""Holt-Winters additive triple exponential smoothing.

Completes the smoothing family (EWMA -> Brown double -> Holt-Winters):
level + trend + a ``period``-slot additive seasonal vector, updated per
observation,

    l_i = a (x_i - s[p_i]) + (1-a)(l_{i-1} + b_{i-1})
    b_i = B (l_i - l_{i-1}) + (1-B) b_{i-1}
    s[p_i] += g (x_i - l_i) - g s[p_i]          (other slots unchanged)

with phase ``p_i = floor(epoch_i / unit) mod period`` (the same phase
convention as `operators.seasonal`). Deterministic init: the first
observed row sets l = x, b = 0, s = zeros (oracle-replayed verbatim).

The recursion's state is a (2 + period)-float vector per key — not
window algebra, so the per-key scan rides the complete-group Arrow
engine like `kalman`, and the oracle replays it EXACTLY as a DuckDB
recursive CTE carrying the seasonal vector as a LIST column.

Null/NaN observations freeze the state and score null (family
contract). Per-observation recursion: gaps do not decay the state —
resample onto a uniform clock first if slots must stay calendar-true.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame

from ..timeseries import parse_duration_ns
from ..session import ansi_guard

__all__ = ["holt_winters"]


def _hw_scan_factory(alpha: float, beta: float, gamma: float,
                     period: int, unit_ns: int):
    def scan(t, x, state=None):
        if state is None:
            init, level, trend, seas = False, 0.0, 0.0, [0.0] * period
        else:
            init, level, trend, seas = state
        seas = np.asarray(seas, dtype=np.float64).copy()
        n = len(x)
        out_l = np.empty(n)
        out_b = np.empty(n)
        out_f = np.empty(n)
        for i in range(n):
            xi = x[i]
            if np.isnan(xi):
                out_l[i] = out_b[i] = out_f[i] = np.nan
                continue
            p = int((t[i] // unit_ns) % period)
            if not init:
                init, level, trend = True, xi, 0.0
            else:
                prev_l = level
                level = (alpha * (xi - seas[p])
                         + (1.0 - alpha) * (level + trend))
                trend = beta * (level - prev_l) + (1.0 - beta) * trend
                seas[p] = gamma * (xi - level) + (1.0 - gamma) * seas[p]
            out_l[i], out_b[i], out_f[i] = level, trend, level + seas[p]
        return (out_l, out_b, out_f), (init, float(level), float(trend),
                                       [float(v) for v in seas])

    return scan


def _validate(alpha: float, beta: float, gamma: float,
              period: int) -> None:
    """Shared by the batch operator and the streaming twin."""
    for name, v in (("alpha", alpha), ("beta", beta), ("gamma", gamma)):
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"{name}={v} outside [0, 1]")
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")


@ansi_guard("holt_winters operator")
def holt_winters(df: DataFrame, column: str, period: int,
                 alpha: float = 0.3, beta: float = 0.1,
                 gamma: float = 0.1, unit: str | int = "1d",
                 key: Sequence[str] = (),
                 tie_break: Sequence[str] = ()) -> DataFrame:
    """Adds ``<column>_hw_level``, ``<column>_hw_trend`` and
    ``<column>_hw`` (level + the just-updated seasonal of the row's
    phase — the in-sample fit; forecast h steps with
    ``level + h*trend + seas[phase(t+h)]`` downstream). One keyed
    exchange on the shared complete-group engine
    (`functions._grouped_map`, through `ema._apply_per_key`), in the
    engine's row order (time, ``tie_break``, value, other columns)."""
    _validate(alpha, beta, gamma, period)
    unit_ns = parse_duration_ns(unit)
    scan = _hw_scan_factory(float(alpha), float(beta), float(gamma),
                            int(period), unit_ns)

    from .ema import _apply_per_key

    def fn(t, x):
        vals, _ = scan(t, x)
        return vals

    names = [f"{column}_hw_level", f"{column}_hw_trend", f"{column}_hw"]
    return _apply_per_key(df, column, names, list(key), fn,
                          tie_break=tie_break)
