"""Stateful stream folds run through one shared ``ts_stream._keyed_fold``:
one whole-trigger assembly, one sort by (time, tie columns) with the
batch tie rule, one state protocol. These tests pin the per-row batch
parity that single sort gives on duplicate timestamps, the batch
defaults, and the one-fold rule itself."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flint_spark.streaming import ts_stream

SCHEMA = "time timestamp, user_id string, seq long, value double"


def _replay(spark, tmp_path, name, rows):
    """One trigger over one parquet file holding ``rows`` (time offsets
    in hours, seq, value) in the given FILE order, so rows that share a
    timestamp arrive in that order. Returns (stream, batch twin with
    ns-long ``time``)."""
    base = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame({
        "time": [base + pd.Timedelta(hours=h) for h, _, _ in rows],
        "user_id": ["u"] * len(rows),
        "seq": pd.array([s for _, s, _ in rows], dtype="Int64"),
        "value": [v for _, _, v in rows]})
    batch = spark.createDataFrame(pdf, schema=SCHEMA)
    src = str(tmp_path / name)
    batch.coalesce(1).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    return stream, batch.withColumn(
        "time", F.unix_timestamp("time").cast("long") * 10 ** 9)


def _sink(spark, out, name):
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName(name).start())
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}").collect()


def _by_time_value(rows, tcol, out_col):
    return sorted((r[tcol], r["value"], r[out_col]) for r in rows)


# duplicate timestamps, each tie written in DESCENDING value order
_TIES = [(0, 1, 1.0), (1, 2, 9.0), (1, 3, 2.0),
         (2, 4, 7.0), (2, 5, 5.0), (2, 6, 3.0)]


@pytest.mark.parametrize("op", ["ewma", "exponential_smoothing"])
def test_ewm_streams_order_duplicate_timestamps_like_batch(spark, tmp_path,
                                                           op):
    """ewma_stream and exponential_smoothing_stream score tied rows in
    (time, value) order, the order of their batch twins, not in arrival
    order."""
    from flint_spark.operators import ema

    kw = dict(alpha=0.1, duration_per_period="1h", key=["user_id"])
    if op == "exponential_smoothing":
        kw["priming_periods"] = 1.0
    out_col = {"ewma": "value_ewma", "exponential_smoothing": "value_ema"}[op]
    st, batch = _replay(spark, tmp_path, f"{op}_ties", _TIES)
    got = _by_time_value(_sink(spark, getattr(ts_stream, f"{op}_stream")(
        st, "value", **kw), f"ties_{op}"), "__tns", out_col)
    exp = _by_time_value(getattr(ema, op)(batch, "value", **kw).collect(),
                         "time", out_col)
    assert [g[:2] for g in got] == [e[:2] for e in exp]
    if op == "ewma":
        assert [e[2] for e in exp] == pytest.approx(
            [1.0, 2.9, 11.9, 13.71, 18.71, 25.71], rel=1e-12)
    assert [g[2] for g in got] == pytest.approx([e[2] for e in exp],
                                                rel=1e-12)


def test_log_returns_stream_chains_null_tie_break_first(spark, tmp_path):
    """A null ``tie_break`` value sorts FIRST among its duplicate
    timestamps, as in batch ``realized_volatility``'s order struct, so
    the stream's squared log-returns sum to the batch ``rv``."""
    from flint_spark.operators.bars import realized_volatility

    rows = [(0, 1, 10.0), (1, 2, 20.0), (1, None, 40.0), (1, 3, 15.0),
            (2, 4, 12.0)]
    st, batch = _replay(spark, tmp_path, "lr_null_seq", rows)
    got = _sink(spark, ts_stream.log_returns_stream(
        st, "value", key=["user_id"], tie_break=["seq"]), "lr_null_seq")
    sq = sum(r.value_logret ** 2 for r in got
             if r.value_logret is not None)
    (exp,) = realized_volatility(batch, "1d", "value", key=["user_id"],
                                 tie_break=["seq"]).collect()
    assert exp.rv == pytest.approx(2.534819, abs=1e-6)
    assert sq == pytest.approx(exp.rv, rel=1e-12)


def test_exponential_smoothing_stream_defaults_match_batch(spark, tmp_path):
    """With default arguments on both sides, an in-order replay of
    exponential_smoothing_stream equals batch exponential_smoothing
    row for row (same ``priming_periods`` default)."""
    from flint_spark.operators.ema import exponential_smoothing

    rows = [(0, 1, 1.0), (24, 2, 3.0), (48, 3, 2.0), (96, 4, 5.0)]
    st, batch = _replay(spark, tmp_path, "es_defaults", rows)
    got = _by_time_value(_sink(spark, ts_stream.exponential_smoothing_stream(
        st, "value", key=["user_id"]), "es_defaults"),
        "__tns", "value_ema")
    exp = _by_time_value(exponential_smoothing(
        batch, "value", key=["user_id"]).collect(), "time", "value_ema")
    assert [g[:2] for g in got] == [e[:2] for e in exp]
    assert exp[0][2] == pytest.approx(1.0)
    assert [g[2] for g in got] == pytest.approx([e[2] for e in exp],
                                                rel=1e-12)


def test_stateful_stream_protocol_only_in_keyed_fold():
    """``applyInPandasWithState`` and the whole-trigger assembly
    ``_trigger_pdf`` are called only inside ``ts_stream._keyed_fold``: a
    fold that assembled, sorted or keyed its trigger itself could drift
    from the shared tie rule and chunk-invariance contract again."""
    import ast
    import pathlib

    import flint_spark

    root = pathlib.Path(flint_spark.__file__).parent
    callers = set()
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        rel = path.relative_to(root).as_posix()

        def visit(node, owner):
            for child in ast.iter_child_nodes(node):
                inner = owner
                if isinstance(child, (ast.FunctionDef,
                                      ast.AsyncFunctionDef)):
                    inner = owner or child.name
                if isinstance(child, ast.Call):
                    fn = child.func
                    name = fn.attr if isinstance(fn, ast.Attribute) else \
                        getattr(fn, "id", None)
                    if name in ("applyInPandasWithState", "_trigger_pdf"):
                        callers.add((rel, owner, name))
                visit(child, inner)

        visit(tree, None)
    assert callers == {
        ("streaming/ts_stream.py", "_keyed_fold", "applyInPandasWithState"),
        ("streaming/ts_stream.py", "_keyed_fold", "_trigger_pdf")}
