"""One row order for every ordered operator, batch and stream.

``timeseries.row_order`` defines the order (time, tie columns, values,
the other orderable columns; null first, NaN after +inf) and
``timeseries.sort_rows`` is its pandas twin. These tests pin that:

- an AST guard: no other module spells a time order of its own;
- a batch differential harness (hypothesis): every ordered operator
  returns the same rows after ``repartition(k)`` and after reversed
  arrival, and the keyless single-task and distributed routes agree;
- a stream twin harness: each stateful fold, replayed at random
  trigger splits with rows shuffled inside each trigger, equals its
  batch twin row for row on tied and null inputs.
"""

from __future__ import annotations

import ast
import math
import os
import random
import re

import pandas as pd
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flint_spark import summarizers as S
from flint_spark.functions import summarize_cycles_udf, summarize_windows_udf
from flint_spark.operators import (aggregate, asof, bars, changepoint,
                                   cycles, ema, holtwinters, kalman,
                                   regression, sessions)
from flint_spark.streaming import ts_stream
from flint_spark.windows import past_absolute_time

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "flint_spark")
SCHEMA = "time long, id long, v double, tb long, vol double"
SEC = 1_000_000_000
NAN = float("nan")


# ----------------------------------------------------------------------
# guard


_TIME_NAMES = {"tns", "_TNS", "TIME_COLUMN", "time_column"}
_TIME_STRS = {"__tns", "time"}
#: (module path, function) pairs allowed to use an otherwise banned form
_ALLOWED = {
    ("pipeline/profile.py", "heavy_keys"),  # DuckDB-matched count top-k
    ("operators/joins.py", "salted_join"),  # scatter hash, not an order
}


def _is_time(node) -> bool:
    """``node`` is a bare time expression (optionally .asc()/.desc())."""
    if isinstance(node, ast.Call):
        f = node.func
        if isinstance(f, ast.Attribute) and f.attr in ("asc", "desc"):
            return _is_time(f.value)
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
        if name == "time_ns_expr":
            return True
        if name in ("col", "desc", "asc") and len(node.args) == 1:
            return _is_time(node.args[0])
        return False
    if isinstance(node, ast.Name):
        return node.id in _TIME_NAMES
    if isinstance(node, ast.Constant):
        return node.value in _TIME_STRS
    return False


def _tie_only(node) -> bool:
    """``*[F.col(c) for c in tie_break]``: declared tie columns only."""
    return (isinstance(node, ast.Starred)
            and isinstance(node.value, ast.ListComp)
            and "tie_break" in ast.dump(node.value.generators[0].iter))


def _order_calls(node):
    """Every ``orderBy`` call in the receiver chain of ``node``."""
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr == "orderBy":
                yield node
            node = f
        else:
            node = node.value


def _functions(tree):
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield fn


def test_row_order_defined_once():
    """Outside ``timeseries.py`` no module spells a time order of its
    own: no ``asc_nulls_last``/``desc_nulls_*`` or ``na_position=``, no
    ``monotonically_increasing_id()`` sort key, and no rows frame
    ordered by a time expression alone (or plus tie columns only).
    The deleted spellings stay deleted."""
    bad = []
    for root, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py") or name == "timeseries.py":
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            tree = ast.parse(open(path).read())
            for fn in _functions(tree):
                if (rel, fn.name) in _ALLOWED:
                    continue
                for node in ast.walk(fn):
                    if isinstance(node, ast.Attribute) and node.attr in (
                            "asc_nulls_last", "desc_nulls_first",
                            "desc_nulls_last"):
                        bad.append((rel, fn.name, node.attr))
                    if isinstance(node, ast.keyword) and \
                            node.arg == "na_position":
                        bad.append((rel, fn.name, "na_position"))
                    if not isinstance(node, ast.Call):
                        continue
                    f = node.func
                    attr = f.attr if isinstance(f, ast.Attribute) else None
                    if attr == "monotonically_increasing_id":
                        bad.append((rel, fn.name, attr))
                    if attr == "rowsBetween":
                        for call in _order_calls(f.value):
                            args = call.args
                            if args and _is_time(args[0]) and all(
                                    _is_time(a) or _tie_only(a)
                                    for a in args[1:]):
                                bad.append((rel, fn.name, "time-only rows"))
            for gone in ("_order_struct", "_sort_time_then_values"):
                if any(isinstance(n, ast.FunctionDef) and n.name == gone
                       for n in ast.walk(tree)):
                    bad.append((rel, gone, "defined"))
            for fn in _functions(tree):
                if fn.name == "_engine" and "nulls_last" in ast.dump(fn.args):
                    bad.append((rel, fn.name, "nulls_last"))
    assert bad == []



def _called(fn) -> set:
    """Names of everything ``fn`` calls, nested functions included."""
    return {n.func.attr if isinstance(n.func, ast.Attribute)
            else getattr(n.func, "id", None)
            for n in ast.walk(fn) if isinstance(n, ast.Call)}


def test_one_broadcast_asof_engine():
    """One broadcast as-of engine: a single function plans the Arrow
    lookup (``ts_stream._broadcast_asof``); neither public face takes
    an ``engine``; ``left_join``/``future_left_join`` never route to
    it; the deleted in-JVM engine and its auto-route stay deleted."""
    faces = {"left_join_broadcast", "asof_join_static"}
    broadcast = faces | {"_broadcast_asof", "topk_join_static",
                         "left_join_topk_broadcast"}
    gone = {"_sorted_right_arrays", "_upper_bound", "_broadcast_route_ok",
            "_null_safe_key", "_broadcast_static_tables",
            "count_probe_exchanges"}
    lookups, bad = [], []
    for root, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            tree = ast.parse(open(path).read())
            bad += [(rel, n.id) for n in ast.walk(tree)
                    if isinstance(n, ast.Name)
                    and n.id.startswith("_ASOF_BROADCAST")]
            for fn in _functions(tree):
                calls = _called(fn)
                if "arrow_udf" in calls:
                    lookups.append((rel, fn.name))
                if fn.name in gone:
                    bad.append((rel, fn.name))
                if fn.name in faces and "engine" in [
                        a.arg for a in fn.args.args + fn.args.kwonlyargs]:
                    bad.append((rel, fn.name, "engine"))
                if rel == "operators/asof.py" and fn.name in (
                        "left_join", "future_left_join") \
                        and calls & broadcast:
                    bad.append((rel, fn.name, sorted(calls & broadcast)))
    assert lookups == [("streaming/ts_stream.py", "_broadcast_asof")]
    assert bad == []


def test_one_ordering_fact():
    """Catalyst's own ordering is the only ordering fact: no wrapper
    flag (``is_sorted``) or plan walk (``is_order_preserving``,
    ``plans/order.py``) tracks it, and neither passthrough of the
    wrapper (``__getattr__``, ``transform``) asks for a query
    execution."""
    bad = []
    for root, _, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                bad += [(os.path.relpath(path, PKG), m) for m in re.findall(
                    r"\b(?:is_sorted|is_order_preserving)\b",
                    open(path).read())]
    assert bad == []
    assert not os.path.exists(os.path.join(PKG, "plans", "order.py"))
    tree = ast.parse(open(os.path.join(PKG, "timeseries.py")).read())
    cls = next(n for n in tree.body if isinstance(n, ast.ClassDef)
               and n.name == "TimeSeriesDataFrame")
    methods = {fn.name: fn for fn in cls.body
               if isinstance(fn, ast.FunctionDef)}
    for name in ("__getattr__", "transform"):
        assert "queryExecution" not in ast.dump(methods[name]), name


def test_no_interpreted_twins():
    """No higher-order-function twin of an Arrow kernel: the in-JVM
    clock search and the expression Gopher battery stay deleted, and
    ``gopher_rules`` takes no ``engine``."""
    gone = ("upper_bound_expr", "_jvm_intervalize", "_INLINE_TICK_THRESHOLD",
            "_sorted_run_dup_chars", "_sorted_run_top_gram_chars",
            "_word_ngrams", "_count_occurrences")
    bad = []
    for root, _, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                bad += [(os.path.relpath(path, PKG), m) for m in re.findall(
                    r"\b(?:%s)\b" % "|".join(gone), open(path).read())]
    assert bad == []
    tree = ast.parse(open(os.path.join(PKG, "pipeline", "text.py")).read())
    fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef)
              and n.name == "gopher_rules")
    assert "engine" not in [a.arg for a in fn.args.args + fn.args.kwonlyargs]


def test_wrapper_round_trips(spark, monkeypatch):
    """A call through the wrapper costs the same DataFrame call's py4j
    round trips plus a constant: at most 3 more for a ``select``, 9 more
    for a ``where``/``withColumn``/``select`` chain. Commands are
    counted like ``tools/call_costs.py`` (proxy deletes excluded)."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    from flint_spark import TimeSeriesDataFrame

    left = spark.createDataFrame([(i * SEC, i % 3, float(i))
                                  for i in range(20)],
                                 "time long, k long, x double")
    right = spark.createDataFrame([(k, float(k)) for k in range(3)],
                                  "k long, w double")
    df = left.join(right, "k")
    ts = TimeSeriesDataFrame(df)
    calls = {
        "select": (3, lambda d: d.select("time", "x")),
        "chain": (9, lambda d: d.where(F.col("x") > 2)
                  .withColumn("y", F.col("x") * 2).select("time", "y")),
    }
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, [0]

    def counted(command, *args, **kwargs):
        sent[0] += not command.startswith(MEMORY_COMMAND_NAME)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)

    def trips(call, frame):
        call(frame)  # warm
        n0 = sent[0]
        call(frame)
        return sent[0] - n0

    for name, (extra, call) in calls.items():
        plain, wrapped = trips(call, df), trips(call, ts)
        assert isinstance(call(ts), TimeSeriesDataFrame), name
        assert wrapped <= plain + extra, (name, plain, wrapped)


def test_sort_rows_places_null_first_and_nan_last():
    """The pandas twin sorts like Spark: null first, NaN after +inf
    (told apart by the ``__isnan_`` flag Spark's Arrow conversion
    needs), stable on full ties, and skips columns pandas cannot
    compare."""
    from flint_spark.timeseries import sort_rows

    pdf = pd.DataFrame({
        "t": [2, 1, 1, 1, 1, 1],
        "v": [0.0, 9.0, NAN, 2.0, NAN, math.inf],
        "s": ["a", "b", "c", None, "d", "e"],
        "__isnan_v": [False, False, True, False, False, False],
        "arr": [[1], [2], [0], [3], [4], [5]]})
    got = sort_rows(pdf, ["t", "v", "s", "arr"])
    assert got["s"].tolist() == ["d", None, "b", "e", "c", "a"]
    unflagged = sort_rows(pdf.drop(columns="__isnan_v"), ["t", "v"])
    assert unflagged["s"].tolist() == ["c", "d", None, "b", "e", "a"]


# ----------------------------------------------------------------------
# batch differential harness


@st.composite
def tied_rows(draw, max_rows=24, keys=3, times=5, nan=True):
    """(time, id, v, tb, vol) rows with duplicate timestamps, null (and
    with ``nan``, NaN) values and a nullable tie column."""
    value = st.one_of(st.integers(0, 12).map(float), st.just(None),
                      *([st.just(NAN)] if nan else []))
    n = draw(st.integers(2, max_rows))
    return [(draw(st.integers(0, times)) * SEC, draw(st.integers(0, keys - 1)),
             draw(value), draw(st.one_of(st.integers(0, 2), st.none())),
             float(draw(st.integers(0, 4)))) for _ in range(n)]


def _norm(v, digits=None):
    """Hashable, NaN-safe, optionally rounded cell value."""
    if v is None or v == "NaN" or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x, digits) for x in v)
    if isinstance(v, float) and digits is not None:
        return round(v, digits)
    return v


def _json_rows(frames, cols=None):
    """Union of ``{tag: frame}`` as (tag, JSON row) pairs, so one Spark
    action (or one streaming query) runs every operator."""
    out = None
    for tag, df in frames.items():
        row = F.to_json(F.struct(*(cols or {}).get(tag, df.columns)))
        part = df.select(F.lit(tag).alias("tag"), row.alias("row"))
        out = part if out is None else out.unionByName(part)
    return out


def _tables(rows, digits=None):
    """(tag, JSON row) pairs -> {tag: sorted normalized rows}."""
    import json

    out = {}
    for tag, row in rows:
        cells = json.loads(row)
        out.setdefault(tag, []).append(
            tuple(sorted((c, _norm(v, digits)) for c, v in cells.items())))
    return {t: sorted(r, key=repr) for t, r in out.items()}


_WINDOW_KW = dict(window=past_absolute_time("3s"), alpha=0.1,
                  duration_per_period="1s", key=["id"])
#: every ordered batch operator, keyed so a layout change moves rows
#: (pandas callbacks are lambdas: Spark's workers pickle them by value)
_BATCH_OPS = {
    "add_summary_columns": lambda d: aggregate.add_summary_columns(
        d, S.sum_("v"), key=["id"]),
    "drawdown": lambda d: bars.drawdown(d, "v", key=["id"]),
    "volume_bars": lambda d: bars.volume_bars(d, 3.0, "v", "vol",
                                              key=["id"]),
    "ohlc_bars_twap": lambda d: bars.ohlc_bars(d, "2s", "v", key=["id"],
                                               volume_col="vol", twap=True),
    "realized_volatility": lambda d: bars.realized_volatility(
        d.withColumn("v", F.col("v") + 1), "2s", "v", key=["id"]),
    "cusum": lambda d: changepoint.cusum(d, "v", key=["id"]),
    "sessionize": lambda d: sessions.sessionize(d, "1s", key=["id"]),
    "cycle_rank": lambda d: cycles.add_columns_for_cycle(
        d, {"r": F.row_number()}, key=["id"]),
    "cycle_pandas": lambda d: cycles.add_columns_for_cycle(
        d, {"r": lambda p: p["vol"].cumsum() * 10 + p["v"].fillna(-1)},
        key=["id"]),
    "windows_udf": lambda d: summarize_windows_udf(
        d, past_absolute_time("1s"),
        lambda p: float(p["v"].fillna(-1).iloc[-1]), "w", key=["id"]),
    "cycles_udf": lambda d: summarize_cycles_udf(
        d, lambda p: {"first_v": p["v"].iloc[0], "n": float(len(p))},
        "first_v double, n double", key=["id"]),
    "ewma": lambda d: ema.ewma(d, "v", alpha=0.1, duration_per_period="1s",
                               key=["id"]),
    "ewma_native": lambda d: ema.ewma_native(
        d, "v", alpha=0.1, duration_per_period="1s", key=["id"]),
    "kalman_tie_break": lambda d: kalman.kalman_local_level(
        d, "v", 0.1, 1.0, period="1s", key=["id"], tie_break=["tb"]),
    "lead_lag_corr": lambda d: regression.lead_lag_corr(
        d, "v", "vol", lags=[1], key=["id"]),
    "left_join_topk": lambda d: asof.left_join_topk(
        d.select("time", "id", "tb"),
        d.select("time", "id", "v", "vol"), 2, "2s", key=["id"]),
    "ewma_windowed": lambda d: ema.ewma_windowed(d, "v", **_WINDOW_KW),
    "ewm_volatility_windowed": lambda d: ema.ewm_volatility_windowed(
        d, "v", **_WINDOW_KW),
    "ewm_corr_windowed": lambda d: ema.ewm_corr_windowed(
        d, "v", "vol", **_WINDOW_KW),
    "exponential_smoothing_windowed":
        lambda d: ema.exponential_smoothing_windowed(
            d, "v", interpolation="linear", **_WINDOW_KW),
}

# 40 keys at times [0, 1, 1, 1, 2]: a row-id tie-break in keyed
# add_summary_columns resolves these ties by layout
_PROBE_SUM = [(t * SEC, k, float((k * 7 + i * 13) % 11), None, 1.0)
              for k in range(40) for i, t in enumerate([0, 1, 1, 1, 2])]
# 50 keys with a tie at t=1: keyed drawdown ordered by time alone
_PROBE_DRAWDOWN = [(t * SEC, k, float((k * 5 + i * 3) % 7) + 1, None, 1.0)
                   for k in range(50) for i, t in enumerate([0, 1, 1, 2])]
# 3 keys, 3 rows per time arriving out of value order: the windowed
# EMA family's range sums, lags and firsts met tied rows in arrival order
_PROBE_WINDOWED = [(i // 3 * SEC, k, float((i * 37 + k * 11) % 13) - 4.5,
                    None, float((i * 17 + k * 5) % 11) * 0.3)
                   for k in range(3) for i in range(20)]


@settings(max_examples=4, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(rows=tied_rows(), k=st.integers(2, 4))
@example(rows=_PROBE_SUM, k=3)
@example(rows=_PROBE_DRAWDOWN, k=3)
@example(rows=_PROBE_WINDOWED, k=3)
def test_batch_operators_ignore_layout(spark, rows, k):
    """Every ordered batch operator returns the same rows on one
    partition in input order and on ``repartition(k)`` of the reversed
    input."""
    base = spark.createDataFrame(rows, SCHEMA).repartition(1)
    moved = spark.createDataFrame(rows[::-1], SCHEMA).repartition(k)
    got = _tables(_json_rows(
        {f"{name}|{lay}": op(d) for name, op in _BATCH_OPS.items()
         for lay, d in (("base", base), ("moved", moved))}).collect())
    diff = [name for name in _BATCH_OPS
            if got.get(f"{name}|base") != got.get(f"{name}|moved")]
    assert diff == []


#: keyless operators with a single-task and a distributed route
_ROUTED_OPS = {
    "add_summary_columns": lambda d, r: aggregate.add_summary_columns(
        d, S.sum_("v"), distributed=r),
    "drawdown": lambda d, r: bars.drawdown(d, "v", distributed=r),
    "volume_bars": lambda d, r: bars.volume_bars(d, 3.0, "v", "vol",
                                                 distributed=r),
    "ewma": lambda d, r: ema.ewma(d, "v", alpha=0.1,
                                  duration_per_period="1s", distributed=r),
}

# 7 rows with ties: the single-task route read arrival order, the
# prefix engine value order
_PROBE_ROUTES = [(t * SEC, 0, v, None, 1.0) for t, v in
                 [(0, 1.0), (1, 18.0), (1, 16.0), (1, 2.0), (2, 5.0),
                  (3, 12.0), (3, 4.0)]]


@settings(max_examples=3, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(rows=tied_rows(max_rows=16, keys=1))
@example(rows=_PROBE_ROUTES)
def test_keyless_routes_agree(spark, rows):
    """Keyless single-task and distributed routes return the same rows
    (EWMA to 1e-9: the routes associate its float sums differently)."""
    df = spark.createDataFrame(rows, SCHEMA).drop("id")
    got = _tables(_json_rows(
        {f"{name}|{dist}": op(df, dist) for name, op in _ROUTED_OPS.items()
         for dist in (False, True)}).collect(), 9)
    diff = [name for name in _ROUTED_OPS
            if got.get(f"{name}|False") != got.get(f"{name}|True")]
    assert diff == []


# ----------------------------------------------------------------------
# stream twin harness

_KW = dict(alpha=0.1, duration_per_period="1s")
_KF = dict(q=0.1, r=1.0, period="1s")

#: fold name -> (stream twin, batch twin), both keyed on ``id``
_FOLDS = {
    "ewma": (lambda s: ts_stream.ewma_stream(s, "v", ["id"], **_KW),
             lambda d: ema.ewma(d, "v", key=["id"], **_KW)),
    "exponential_smoothing": (
        lambda s: ts_stream.exponential_smoothing_stream(s, "v", ["id"],
                                                         **_KW),
        lambda d: ema.exponential_smoothing(d, "v", key=["id"], **_KW)),
    "ewm_volatility": (
        lambda s: ts_stream.ewm_volatility_stream(s, "v", ["id"], **_KW),
        lambda d: ema.ewm_volatility(d, "v", key=["id"], **_KW)),
    "brown_double_smoothing": (
        lambda s: ts_stream.brown_double_smoothing_stream(s, "v", ["id"],
                                                          **_KW),
        lambda d: ema.brown_double_smoothing(d, "v", key=["id"], **_KW)),
    "ewm_corr": (
        lambda s: ts_stream.ewm_corr_stream(s, "v", "vol", ["id"], **_KW),
        lambda d: ema.ewm_corr(d, "v", "vol", key=["id"], **_KW)),
    "drawdown": (lambda s: ts_stream.drawdown_stream(s, "v", ["id"]),
                 lambda d: bars.drawdown(d, "v", key=["id"])),
    "cusum": (lambda s: ts_stream.cusum_stream(s, "v", ["id"], mu=5.0,
                                               sigma=3.0),
              lambda d: changepoint.cusum(d, "v", mu=5.0, sigma=3.0,
                                          key=["id"])),
    "kalman": (lambda s: ts_stream.kalman_stream(s, "v", ["id"], **_KF),
               lambda d: kalman.kalman_local_level(d, "v", key=["id"],
                                                   **_KF)),
    "holt_winters": (
        lambda s: ts_stream.holt_winters_stream(s, "v", ["id"], 2,
                                                unit="1s"),
        lambda d: holtwinters.holt_winters(d, "v", 2, unit="1s",
                                           key=["id"])),
    "volume_bars": (
        lambda s: ts_stream.volume_bars_stream(s, 3.0, "v", "vol", ["id"],
                                               tie_break=["tb"]),
        lambda d: bars.volume_bars(d, 3.0, "v", "vol", key=["id"],
                                   tie_break=["tb"])),
}


@st.composite
def keyed_series(draw, n_keys=6):
    """Many short tied series with null values, one key each, and the
    trigger cut times: a trigger holds whole timestamps, in shuffled
    arrival. No NaN: the batch JVM twins propagate NaN, where the
    folds skip it like a null."""
    rows = []
    for k in range(draw(st.integers(2, n_keys))):
        rows += [(t, k, v, tb, vol) for t, _, v, tb, vol
                 in draw(tied_rows(max_rows=8, keys=1, nan=False))]
    cuts = draw(st.lists(st.integers(1, 5), max_size=2, unique=True))
    return rows, sorted(cuts), draw(st.integers(0, 2 ** 16))


def _write_triggers(rows, cuts, seed, src):
    """One parquet file per trigger, oldest first; rows shuffled inside
    each file. Nulls and NaNs stay distinct (pyarrow from Python
    values)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src)
    rng = random.Random(seed)
    bounds = [0, *[c * SEC for c in cuts], math.inf]
    names = ["time", "id", "v", "tb", "vol"]
    types = [pa.int64(), pa.int64(), pa.float64(), pa.int64(), pa.float64()]
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        part = [r for r in rows if lo <= r[0] < hi]
        rng.shuffle(part)
        path = os.path.join(src, f"{i:03d}.parquet")
        pq.write_table(pa.table([pa.array([r[j] for r in part], type=t)
                                 for j, t in enumerate(types)], names=names),
                       path)
        os.utime(path, (1_000_000 + i, 1_000_000 + i))


def _twin_frames(stream, batch):
    """Per fold: the stream output and its batch twin on the columns
    both emit (batch ``time`` is the stream's ``__tns``; a volume bar's
    first tick time is the stream's ``tns``, and each key's still-open
    last bar, which the stream never emits, is dropped)."""
    folds, twins, cols = {}, {}, {}
    for name, (fold, twin) in _FOLDS.items():
        out, exp = fold(stream), twin(batch)
        if name == "volume_bars":
            last = exp.groupBy("id").agg(F.max("bar_seq").alias("__last"))
            exp = (exp.join(last, "id").filter(F.col("bar_seq")
                                               < F.col("__last"))
                   .withColumnRenamed("time", "tns"))
        else:
            exp = exp.withColumnRenamed("time", "__tns")
        folds[name], twins[name] = out, exp
        cols[name] = [c for c in out.columns if c in exp.columns]
    return folds, twins, cols


_PROBE_STREAM = ([(0, 0, 1.0, None, 1.0), (3600 * SEC, 0, 9.0, None, 1.0),
                  (3600 * SEC, 0, None, None, 1.0),
                  (3600 * SEC, 0, 2.0, None, 1.0)], [], 1)


@settings(max_examples=2, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(case=keyed_series())
@example(case=_PROBE_STREAM)
def test_stream_folds_equal_batch_twins(spark, tmp_path_factory, case):
    """Every stateful fold with a batch twin, replayed with ties kept in
    one trigger and rows shuffled inside each trigger, emits its batch
    twin's rows. At a tie holding 9, null and 2, ``ewma_stream`` once
    put the null first and batch ``ewma`` last (0.9 against 11.9)."""
    rows, cuts, seed = case
    src = str(tmp_path_factory.mktemp("row_order") / "in")
    _write_triggers(rows, cuts, seed, src)
    batch = spark.createDataFrame(rows, SCHEMA)
    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    folds, twins, cols = _twin_frames(stream, batch)
    # a query holds one stateful fold; the queries run side by side
    queries = [_json_rows({name: out}, cols).writeStream
               .outputMode("append").format("memory")
               .queryName(f"row_order_{name}").start()
               for name, out in folds.items()]
    for q in queries:
        q.processAllAvailable()
        q.stop()
    got = _tables([r for name in folds for r in spark.sql(
        f"SELECT * FROM row_order_{name}").collect()], 9)
    exp = _tables(_json_rows(twins, cols).collect(), 9)
    diff = [name for name in _FOLDS if got.get(name) != exp.get(name)]
    assert diff == []
