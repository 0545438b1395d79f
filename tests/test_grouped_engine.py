"""The complete-group engine ``functions._grouped_map``: one plan for
every keyed pandas operator, exact int64 group values, batch-size
invariance of the re-chunk carry, and the guard that keeps the plan in
one place."""

import ast
import pathlib

import pytest
from pyspark.sql import types as T

import flint_spark
from flint_spark import functions as FL
from flint_spark.operators import asof, cycles, ema

T0 = 1_700_000_000_123_456_789  # ns; not representable in float64
BIG = 2**60 + 1


# the per-group functions are built inside the callers: workers
# unpickle them by value, and cannot import this test module


def _summarize_udf(df, key):
    return FL.summarize_cycles_udf(
        df, lambda g: {"n": len(g), "s": float(g["x"].sum())},
        "n long, s double", key=key)


def _summarize_calls(df, key):
    count_sum = FL.udf((T.LongType(), T.DoubleType()))(
        lambda x: (len(x), float(x.sum())))
    return FL.summarize_cycles_calls(df, {("n", "s"): count_sum(df["x"])},
                                     key=key)


@pytest.mark.parametrize("summarize", [_summarize_udf, _summarize_calls],
                         ids=["udf", "calls"])
def test_summarize_cycles_keeps_int64_group_values(spark, summarize):
    """Cycle times and keys above 2**53 come back exact: the group
    values are read column-wise, never through a row that pandas
    upcasts to float64 when every column is numeric."""
    df = spark.createDataFrame(
        [(T0, 1, 1.0), (T0 + 1, 1, 2.0), (T0, BIG, 3.0)],
        "time long, id long, x double")
    keyless = sorted(tuple(r) for r in summarize(df, []).collect())
    assert keyless == [(T0, 2, 4.0), (T0 + 1, 1, 2.0)]
    keyed = sorted(tuple(r) for r in summarize(df, ["id"]).collect())
    assert keyed == [(T0, 1, 1, 1.0), (T0, BIG, 1, 3.0),
                     (T0 + 1, 1, 1, 2.0)]


def _carry_frame(spark):
    """Key 0 holds 60 rows in 20-row cycles, the null key 21 rows in
    7-row cycles (each many 7-row batches), key 1 15 single-row
    cycles."""
    rows = [((i // 20) * 100, 0, float(i * 7 % 11)) for i in range(60)]
    rows += [((i // 7) * 100, None, float(i * 5 % 13)) for i in range(21)]
    rows += [(i * 100, 1, float(i % 4)) for i in range(15)]
    return spark.createDataFrame(rows, "time long, id long, x double")


_CARRY_CALLERS = {
    "summarize_cycles_udf": lambda df: _summarize_udf(df, ["id"]),
    "summarize_cycles_calls": lambda df: _summarize_calls(df, ["id"]),
    "add_columns_for_cycle": lambda df: cycles.add_columns_for_cycle(
        df, {"r": lambda g: g["x"].rank(method="first")}, key=["id"]),
    "ewma_keyed": lambda df: ema.ewma(df, "x", key=["id"]),
    "left_join_topk": lambda df: asof.left_join_topk(
        df, df.withColumnRenamed("x", "y"), 3, tolerance=250, key=["id"]),
    "ewma_keyless": lambda df: ema.ewma(df, "x", distributed=False),
}


@pytest.mark.parametrize("caller", list(_CARRY_CALLERS))
def test_grouped_map_batch_carry(spark, caller):
    """Every engine caller gives the same rows at 7-row Arrow batches
    (every large group and the null-key group span several, so the
    carry, concat and boundary cut run) as at the default batch
    size."""
    df = _carry_frame(spark)
    run = _CARRY_CALLERS[caller]

    def rows():
        return sorted((tuple(r) for r in run(df).collect()), key=repr)

    want = rows()
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf, None)
    spark.conf.set(conf, "7")
    try:
        got = rows()
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)
    assert len(want) >= df.count() // 20
    assert got == want


@pytest.mark.xfail(strict=True, reason=(
    "ROADMAP item 13: Spark's Arrow->pandas conversion makes a nullable "
    "long column that holds a null float64 before the engine runs, so "
    "keys 2**60 and 2**60 + 1 collide; group boundaries on the raw int64 "
    "Arrow array would be exact"))
def test_nullable_int64_keys_stay_distinct(spark):
    conf = "spark.flint.compute.partitions"
    old = spark.conf.get(conf, None)
    spark.conf.set(conf, "1")
    try:
        df = spark.createDataFrame(
            [(100, 2**60, 1.0), (100, 2**60 + 1, 2.0), (100, None, 4.0)],
            "time long, id long, x double")
        got = sorted(tuple(r) for r in _summarize_udf(df, ["id"])
                     .drop("time").collect() if r.id is not None)
        assert got == [(2**60, 1, 1.0), (2**60 + 1, 1, 2.0)]
        scanned = {r.x: r.id for r in ema.ewma(df, "x", key=["id"])
                   .collect()}
        assert scanned == {1.0: 2**60, 2.0: 2**60 + 1, 4.0: None}
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)


def test_complete_group_plan_defined_once():
    """Only ``functions.py`` touches the re-chunk, boundary and
    partition-count helpers; only ``_grouped_map`` runs ``mapInPandas``
    over a ``_compute_partitions`` repartition; ``ema.py`` has no
    ``applyInPandas`` left."""
    root = pathlib.Path(flint_spark.__file__).parent
    helpers = {"_complete_group_batches", "_group_boundaries",
               "_compute_partitions"}
    refs, calls = set(), set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for top in ast.parse(path.read_text(encoding="utf-8")).body:
            owner = getattr(top, "name", None)
            for node in ast.walk(top):
                if isinstance(node, ast.Name) and node.id in helpers:
                    refs.add(rel)
                elif isinstance(node, ast.Attribute) and node.attr in helpers:
                    refs.add(rel)
                elif isinstance(node, ast.ImportFrom):
                    if helpers & {a.name for a in node.names}:
                        refs.add(rel)
                if isinstance(node, ast.Call):
                    fn = node.func
                    name = fn.attr if isinstance(fn, ast.Attribute) else \
                        getattr(fn, "id", None)
                    if name in ("_compute_partitions", "mapInPandas",
                                "applyInPandas"):
                        calls.add((rel, owner, name))
    assert refs == {"functions.py"}, refs
    assert {c for c in calls if c[2] == "_compute_partitions"} == {
        ("functions.py", "_grouped_map", "_compute_partitions")}
    assert {c for c in calls if c[0] == "functions.py"} == {
        ("functions.py", "_grouped_map", "_compute_partitions"),
        ("functions.py", "_grouped_map", "mapInPandas")}
    assert not {c for c in calls
                if c[0] == "operators/ema.py" and c[2] == "applyInPandas"}
