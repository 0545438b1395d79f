"""Order-insensitive comparison of an engine output with its oracle.

Both sides are reduced to the same summary: the row count and, per
column, a sum and a non-null count. Timestamps sum as exact integer
microseconds of the day, strings as exact CRC32 sums, lists over their
flattened elements. Float sums match within ``RTOL`` of the column's
absolute sum, which absorbs summation order but not a wrong row.
"""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

RTOL = 1e-6
_DAY_US = 86_400_000_000


def _column(col: pa.ChunkedArray) -> tuple[str, float, float, int]:
    """(kind, sum, absolute sum, non-null count) of one column."""
    t = col.type
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        flat = pc.list_flatten(col)
        _, s, a, n = _column(flat if isinstance(flat, pa.ChunkedArray)
                             else pa.chunked_array([flat]))
        return "float", s, a, n
    n = len(col) - col.null_count
    if pa.types.is_timestamp(t):
        us = pc.cast(pc.cast(col, pa.timestamp("us", tz=t.tz)), pa.int64())
        v = pc.drop_null(us).to_numpy(zero_copy_only=False)
        tod = int(np.sum(np.mod(v, _DAY_US)))
        return "exact", tod, tod, n
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        crc = sum(zlib.crc32(s.encode()) for s in col.to_pylist()
                  if s is not None)
        return "exact", crc, crc, n
    if pa.types.is_boolean(t):
        k = int(pc.sum(pc.cast(col, pa.int64())).as_py() or 0)
        return "exact", k, k, n
    # NaN counts as null: engines differ in which one a degenerate
    # statistic returns
    v = pc.drop_null(pc.cast(col, pa.float64())).to_numpy(
        zero_copy_only=False)
    v = v[~np.isnan(v)]
    return "float", float(np.sum(v)), float(np.sum(np.abs(v))), len(v)


def summarize(table: pa.Table, columns) -> dict:
    out = {"__rows": ("exact", table.num_rows, table.num_rows, 0)}
    for c in columns:
        out[c] = _column(table.column(c))
    return out


def compare(got: pa.Table, want: pa.Table) -> list[str]:
    """Mismatches between engine output ``got`` and oracle ``want`` over
    the oracle's columns; an empty list means they agree."""
    missing = [c for c in want.column_names if c not in got.column_names]
    if missing:
        return [f"engine output lacks columns {missing}"]
    g = summarize(got, want.column_names)
    w = summarize(want, want.column_names)
    bad = []
    for c, (kind, ws, wa, wn) in w.items():
        _, gs, _, gn = g[c]
        ok = gs == ws if kind == "exact" else \
            abs(gs - ws) <= RTOL * max(1.0, wa)
        if not ok or gn != wn:
            bad.append(f"{c}: engine sum={gs!r} n={gn}, "
                       f"oracle sum={ws!r} n={wn}")
    return bad
