"""`left_join_topk` candidate order on payloads of every kind: the
engine's one sort (`functions._grouped_map` over
`timeseries.row_order`) puts each key's right rows in (time, values)
order before the pandas stage, so duplicate right timestamps resolve
by the max-struct rule whatever the insertion order, and payloads
pandas cannot compare (arrays) sort in Spark like any other column.
These tests pin (a) the scalar tie rule, (b) that array payloads keep
every group's full match set and per-group time windows."""

_SPARK = {}


def _spark():
    if "s" not in _SPARK:
        from flint_spark.session import get_spark
        _SPARK["s"] = get_spark("topk_fallback_tests")
    return _SPARK["s"]


def test_topk_scalar_payload_keeps_tie_rule():
    """Orderable (scalar) payloads: duplicate right timestamps resolve
    by the documented max-struct rule — the k-tail of the value-sorted
    run, reversed — independent of insertion order."""
    from flint_spark.operators.asof import left_join_topk

    spark = _spark()
    # one compute partition => all key groups share one Arrow batch
    spark.conf.set("spark.flint.compute.partitions", "1")
    try:
        right_rows = [(95_000, "a", v) for v in (60, 50, 40, 30, 20, 10)] \
            + [(95_000, "b", v) for v in (9, 7, 8)]
        left_rows = [(100_000, "a", 1.0), (100_000, "b", 2.0)]
        ldf = spark.createDataFrame(left_rows,
                                    "time long, k string, lv double")
        rdf = spark.createDataFrame(right_rows,
                                    "time long, k string, v long")
        out = left_join_topk(ldf, rdf, k=3, tolerance=50_000,
                             key=["k"]).toPandas().set_index("k")
        assert list(out.loc["a", "v_lastk"]) == [60, 50, 40]
        assert list(out.loc["b", "v_lastk"]) == [9, 8, 7]
    finally:
        spark.conf.unset("spark.flint.compute.partitions")


def test_topk_unorderable_payload_per_group_fallback():
    """Array payloads, which pandas cannot sort, sort in Spark with the
    rest of the row order; every group keeps its full match set and its
    own time window."""
    from flint_spark.operators.asof import left_join_topk

    spark = _spark()
    spark.conf.set("spark.flint.compute.partitions", "1")
    try:
        right_rows = (
            [(95_000, "a", [v]) for v in (60, 50, 40, 30)]
            + [(95_000, "b", [None]), (95_000, "b", [1]),
               (40_000, "b", [99])])  # outside b's tolerance window
        left_rows = [(100_000, "a", 1.0), (100_000, "b", 2.0)]
        ldf = spark.createDataFrame(left_rows,
                                    "time long, k string, lv double")
        rdf = spark.createDataFrame(right_rows,
                                    "time long, k string, v array<bigint>")
        out = left_join_topk(ldf, rdf, k=3, tolerance=50_000,
                             key=["k"]).toPandas().set_index("k")
        a_vals = sorted(x[0] for x in out.loc["a", "v_lastk"])
        assert out.loc["a", "n_matched"] == 3
        assert len(a_vals) == 3 and set(a_vals) <= {30, 40, 50, 60}
        import pandas as pd
        # Arrow renders the null list element as NaN in a float array
        b_vals = sorted((-1 if pd.isna(x[0]) else int(x[0]))
                        for x in out.loc["b", "v_lastk"])
        assert out.loc["b", "n_matched"] == 2
        assert b_vals == [-1, 1]  # [99] is outside the window
    finally:
        spark.conf.unset("spark.flint.compute.partitions")
