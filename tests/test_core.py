"""Unit/semantics tests (reference test strategy, SURVEY §5):
hand-computed goldens for edge semantics + layout invariance."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from flint_spark import TimeSeriesDataFrame, summarizers as S, windows as W
from flint_spark.operators import asof, cycles, intervals, windows_ops
from flint_spark.operators import aggregate as agg_ops
from flint_spark.clocks import UniformClock
from flint_spark.timeseries import floor_div, parse_duration_ns


def test_parse_duration():
    assert parse_duration_ns("1d") == 86_400_000_000_000
    assert parse_duration_ns("100ns") == 100
    assert parse_duration_ns("1.5h") == int(1.5 * 3_600e9)
    assert parse_duration_ns("30 min") == 30 * 60 * 10**9
    with pytest.raises(ValueError):
        parse_duration_ns("5 lightyears")


def test_floor_div_exact(spark):
    # values beyond double precision must divide exactly, and negative
    # values floor (toward -inf), not truncate
    vals = [(1_704_073_540_167_754_967,), (2**62 + 12345,), (999,), (0,),
            (-1,), (-1000,), (-1001,), (-(2**62) - 12345,),
            (-(2**63) + 999,)]
    df = spark.createDataFrame(vals, "v long")
    out = df.select(floor_div(F.col("v"), 1000).alias("q")).collect()
    assert [r.q for r in out] == [v[0] // 1000 for v in vals]
    # an int column divides as a long, its extremes included
    ints = [7, -7, 2**31 - 1, -(2**31)]
    got = spark.createDataFrame([(v,) for v in ints], "v int").select(
        floor_div(F.col("v"), 3).alias("q"))
    assert got.schema["q"].dataType.typeName() == "long"
    assert [r.q for r in got.collect()] == [v // 3 for v in ints]
    # divisor 0: null under ANSI-off (the session default here)
    zero = df.select(floor_div(F.col("v"), 0).alias("q")).collect()
    assert [r.q for r in zero] == [None] * len(vals)


def _price(spark):
    # reference 'price' fixture shape: duplicate timestamps across ids
    rows = [(1000, 7, 0.5), (1000, 3, 1.0), (1050, 3, 1.5), (1050, 7, 2.0),
            (1100, 3, 2.5), (1150, 3, 3.0), (1150, 7, 3.5), (1200, 3, 4.0)]
    return spark.createDataFrame(rows, "time long, id int, price double")


def _vol(spark):
    rows = [(1000, 7, 100), (1000, 3, 200), (1050, 3, 300), (1050, 7, 400),
            (1100, 3, 500), (1200, 3, 600), (1250, 7, 700)]
    return spark.createDataFrame(rows, "time long, id int, volume long")


def test_asof_left_join_semantics(spark):
    out = asof.left_join(_price(spark), _vol(spark), tolerance=50, key=["id"])
    got = {(r.time, r.id): r.volume for r in out.collect()}
    # equal timestamps match (LeftJoin.scala:91)
    assert got[(1000, 7)] == 100
    assert got[(1000, 3)] == 200
    # tolerance inclusive at far end: t=1100 id=3 matches vol@1050? 1100-50=1050 inclusive
    assert got[(1100, 3)] == 500  # exact match at 1100 exists
    assert got[(1150, 3)] == 500  # 1150-50=1100 inclusive
    # vol@1050 for id 7: 1150-50=1100 > 1050 -> out of tolerance -> null
    assert got[(1150, 7)] is None


def test_asof_left_join_tolerance_boundary(spark):
    left = spark.createDataFrame([(1100, 1, 1.0)], "time long, id int, x double")
    right = spark.createDataFrame([(1000, 1, 10)], "time long, id int, v long")
    # tolerance exactly t - right.time -> inclusive match
    assert asof.left_join(left, right, tolerance=100, key=["id"]).collect()[0].v == 10
    # one ns less -> no match
    assert asof.left_join(left, right, tolerance=99, key=["id"]).collect()[0].v is None


def test_asof_future_strict(spark):
    left = spark.createDataFrame([(1000, 1, 1.0)], "time long, id int, x double")
    right = spark.createDataFrame([(1000, 1, 10), (1040, 1, 20)],
                                  "time long, id int, v long")
    non_strict = asof.future_left_join(left, right, tolerance=100, key=["id"])
    assert non_strict.collect()[0].v == 10  # equal ts matches
    strict = asof.future_left_join(left, right, tolerance=100, key=["id"],
                                   strict_lookahead=True)
    assert strict.collect()[0].v == 20  # skips equal ts, finds next


def test_merge_preserves_all_rows(spark):
    a, b = _price(spark), _price(spark)
    assert asof.merge(a, b).count() == 2 * a.count()


def test_interval_matrix(spark):
    # clock ticks 1000, 1100, 1200; row exactly on ticks and between
    df = spark.createDataFrame([(1000,), (1050,), (1100,), (1200,), (1250,)],
                               "time long")
    clock = UniformClock(begin_ns=1000, end_ns=1200, frequency_ns=100,
                         timestamp_type=False)
    def buckets(inclusion, rounding):
        out = intervals.intervalize(df, clock, inclusion, rounding)
        return {r["time"]: r["__interval_ns"] for r in out.collect()}

    # inclusion=begin: [b, e); row at last tick (1200) dropped; 1250 dropped
    assert buckets("begin", "begin") == {1000: 1000, 1050: 1000, 1100: 1100}
    assert buckets("begin", "end") == {1000: 1100, 1050: 1100, 1100: 1200}
    # inclusion=end: (b, e]; row at first tick (1000) dropped
    assert buckets("end", "begin") == {1050: 1000, 1100: 1000, 1200: 1100}
    assert buckets("end", "end") == {1050: 1100, 1100: 1100, 1200: 1200}


def test_intervalize_arbitrary_clock_searchsorted(spark, tmp_path):
    """The arbitrary-clock bucket lookup (one Arrow searchsorted stage
    behind a time-range pre-filter) against an independent numpy
    searchsorted rendering on every inclusion×rounding combo over data
    hitting every edge (below first tick, exactly on first/middle/last
    ticks, between ticks, above last); the plan has exactly one Python
    stage, and on a long-ns parquet input the clock's range reaches
    the scan as pushed filters."""
    from flint_spark.plans.audit import plan_counts

    rng = np.random.default_rng(7)
    ticks = np.unique(rng.integers(0, 10_000, size=40)).astype(np.int64)
    ticks = np.unique(np.concatenate([ticks, [0, 10_000]]))
    times = np.unique(np.concatenate([
        ticks,                                # exactly on every tick
        ticks[:-1] + 1,                       # just inside each interval
        rng.integers(-100, 10_100, size=200).astype(np.int64),
    ]))
    df = spark.createDataFrame([(int(t),) for t in times], "time long")
    clock_df = spark.createDataFrame([(int(t),) for t in ticks], "time long")

    def expected(inclusion, rounding):
        m = len(ticks) - 1
        out = {}
        for t in times:
            if inclusion == "begin":
                i = int(np.searchsorted(ticks, t, side="right")) - 1
                if not (0 <= i <= m - 1):
                    continue
                oi = i if rounding == "begin" else i + 1
            else:
                ie = int(np.searchsorted(ticks, t, side="left"))
                if not (1 <= ie <= m):
                    continue
                oi = ie - 1 if rounding == "begin" else ie
            out[int(t)] = int(ticks[oi])
        return out

    for inclusion in ("begin", "end"):
        for rounding in ("begin", "end"):
            got = {r["time"]: r["__interval_ns"] for r in
                   intervals.intervalize(df, clock_df, inclusion,
                                         rounding).collect()}
            assert got == expected(inclusion, rounding), (inclusion, rounding)

    out = intervals.intervalize(df, clock_df, "begin", "end")
    assert plan_counts(out)["python"] == 1
    path = str(tmp_path / "times.parquet")
    df.write.parquet(path)
    for inclusion, bounds in (
            ("begin", ("GreaterThanOrEqual(time,0)", "LessThan(time,10000)")),
            ("end", ("GreaterThan(time,0)", "LessThanOrEqual(time,10000)"))):
        plan = intervals.intervalize(spark.read.parquet(path), clock_df,
                                     inclusion, "end") \
            ._jdf.queryExecution().executedPlan().toString()
        pushed = plan[plan.index("PushedFilters:"):].split("]")[0]
        assert all(b in pushed for b in bounds), (inclusion, pushed)
    # degenerate clocks (<2 ticks) bucket nothing
    one_tick = spark.createDataFrame([(5,)], "time long")
    assert intervals.intervalize(df, one_tick, "begin", "end").count() == 0
    no_tick = spark.createDataFrame([], "time long")
    assert intervals.intervalize(df, no_tick, "begin", "end").count() == 0


def test_intervalize_ignores_null_ticks(spark):
    """A null clock time is no tick. Collected as int64 it read as the
    int64 minimum and bucketed the row at 5 into an interval opening
    in 1677; with the null dropped the clock is [10, 20, 30]."""
    df = spark.createDataFrame([(t,) for t in (5, 15, 25, 105)], "time long")
    want = [(10, 1), (20, 1)]
    for clock in ([10, None, 20, 30], [10, 20, 30]):
        clock_df = spark.createDataFrame([(t,) for t in clock], "time long")
        out = intervals.summarize_intervals(df, clock_df, S.count(),
                                            inclusion="begin",
                                            rounding="begin")
        assert sorted((r.time, r["count"]) for r in out.collect()) == want


def test_summarize_cycles_and_windows(spark):
    out = cycles.summarize_cycles(_price(spark), S.sum_("price"), key=["id"])
    got = {(r.time, r.id): r.price_sum for r in out.collect()}
    assert got[(1000, 3)] == 1.0 and got[(1050, 7)] == 2.0
    w = windows_ops.summarize_windows(_price(spark), W.past_absolute_time(100),
                                      S.count(), key=["id"])
    got = {(r.time, r.id): r["count"] for r in w.collect()}
    # id=3 at t=1200: window [1100,1200] -> rows at 1100,1150,1200
    assert got[(1200, 3)] == 3
    # close-close: id=3 at t=1100: [1000,1100] includes 1000,1050,1100
    assert got[(1100, 3)] == 3


def test_cumulative_sum(spark):
    out = agg_ops.add_summary_columns(_price(spark), S.sum_("price"), key=["id"])
    got = {(r.time, r.id): r.price_sum for r in out.collect()}
    assert got[(1200, 3)] == pytest.approx(1.0 + 1.5 + 2.5 + 3.0 + 4.0)


def test_layout_invariance(spark):
    """Results must not depend on physical partitioning
    (reference MultiPartitionSuite.scala:29-80)."""
    base = _price(spark)
    expected = sorted(
        asof.left_join(base, _vol(spark), tolerance=100, key=["id"]).collect())
    for layout in [base.repartition(7), base.repartition(1),
                   base.repartitionByRange(3, "time"), base.coalesce(1)]:
        got = sorted(asof.left_join(layout, _vol(spark), tolerance=100,
                                    key=["id"]).collect())
        assert got == expected


def test_summarizer_where_prefix(spark):
    df = _price(spark)
    summ = S.sum_("price").where(F.col("id") == 3).prefix("id3")
    out = agg_ops.summarize(df, summ)
    assert out.collect()[0]["id3_price_sum"] == pytest.approx(1.0 + 1.5 + 2.5 + 3.0 + 4.0)


def test_shift_and_validate(spark):
    ts = TimeSeriesDataFrame(_price(spark))
    shifted = ts.shift(50)
    assert shifted.df.select(F.min("time")).collect()[0][0] == 1050
    shifted.validate()  # monotone after shift


def test_ewma_against_pandas(spark):
    pdf = pd.DataFrame({"time": np.arange(10) * 10**9, "id": [1] * 10,
                        "x": np.arange(10, dtype="float64")})
    df = spark.createDataFrame(pdf)
    from flint_spark.operators.ema import ewma
    out = (ewma(df, "x", alpha=0.3, duration_per_period="constant",
                convention="core", key=["id"])
           .orderBy("time").toPandas())
    exp = pdf["x"].ewm(alpha=0.3, adjust=True).mean()
    assert np.allclose(out["x_ewma"], exp)


def test_symmetric_join(spark):
    left = spark.createDataFrame([(1000, 1, 1.0), (1200, 1, 2.0)],
                                 "time long, id int, x double")
    right = spark.createDataFrame([(1100, 1, 10)], "time long, id int, v long")
    out = asof.symmetric_join(left, right, tolerance=150, key=["id"])
    rows = {(r["side"], r["time"]): r for r in out.collect()}
    assert len(rows) == 3
    # left row at 1200 sees right@1100; left row at 1000 sees nothing
    assert rows[("left", 1200)]["right_v"] == 10
    assert rows[("left", 1000)]["right_v"] is None
    # right row at 1100 sees left@1000
    assert rows[("right", 1100)]["left_x"] == 1.0


def test_symmetric_join_rejects_output_conflicts(spark):
    """symmetric_join runs the same conflict validation as the other
    joins, with 'side' reserved for the output marker (ADVICE r3)."""
    import pytest

    left = spark.createDataFrame([(1000, 1, 1.0)],
                                 "time long, id int, x double")
    right = spark.createDataFrame([(1100, 1, 10)], "time long, id int, x long")
    # identical aliases + shared column name -> duplicate output name
    with pytest.raises(ValueError, match="conflicting"):
        asof.symmetric_join(left, right, key=["id"],
                            left_alias="a", right_alias="a")
    # unprefixed data column named 'side' collides with the marker
    side_l = left.withColumnRenamed("x", "side")
    with pytest.raises(ValueError, match="conflicting"):
        asof.symmetric_join(side_l, right, key=["id"],
                            left_alias="", right_alias="r")
    # aliased name shadowing the key: key 'k_b', left column 'b' with
    # left_alias 'k' -> output 'k_b' collides with the key column
    kl = spark.createDataFrame([(1000, 1, 1.0)],
                               "time long, k_b int, b double")
    kr = spark.createDataFrame([(1100, 1, 10)], "time long, k_b int, v long")
    with pytest.raises(ValueError, match="conflicting"):
        asof.symmetric_join(kl, kr, key=["k_b"],
                            left_alias="k", right_alias="r")


def test_empty_inputs(spark):
    """Operators on empty tables return empty, not errors
    (reference EmptyTimeSeriesRDDSpec)."""
    empty = _price(spark).filter(F.lit(False))
    vol = _vol(spark)
    assert asof.left_join(empty, vol, tolerance=100, key=["id"]).count() == 0
    assert asof.left_join(_price(spark), vol.filter(F.lit(False)),
                          tolerance=100, key=["id"]).count() == _price(spark).count()
    assert cycles.summarize_cycles(empty, S.sum_("price")).count() == 0
    assert agg_ops.add_summary_columns(empty, S.count(), key=["id"]).count() == 0
    from flint_spark.operators.ema import ewma
    assert ewma(empty, "price", key=["id"]).count() == 0


def test_null_measures_in_join(spark):
    """Right-side null measures must not break the matched-row struct
    (all right columns come from the same row)."""
    left = spark.createDataFrame([(1100, 1, 1.0)], "time long, id int, x double")
    right = spark.createDataFrame(
        [(1000, 1, None, 5.0), (1050, 1, 7.0, None)],
        "time long, id int, a double, b double")
    row = asof.left_join(left, right, tolerance=200, key=["id"]).collect()[0]
    # most recent right row is t=1050: a=7.0, b=None (NOT b=5.0 from t=1000)
    assert row.a == 7.0 and row.b is None


def test_weighted_mean_test_reference_golden(spark):
    """Exact golden from the reference's own test suite
    (python/tests/ts/flint/test_summarizer.py test_summary_weighted_mean:
    price joined with vol -> 4.166667, 1.547494, 8.237545, 12)."""
    price = [(1000, 7, 0.5), (1000, 3, 1.0), (1050, 3, 1.5), (1050, 7, 2.0),
             (1100, 3, 2.5), (1100, 7, 3.0), (1150, 3, 3.5), (1150, 7, 4.0),
             (1200, 3, 4.5), (1200, 7, 5.0), (1250, 3, 5.5), (1250, 7, 6.0)]
    vol = [(1000, 7, 100), (1000, 3, 200), (1050, 3, 300), (1050, 7, 400),
           (1100, 3, 500), (1100, 7, 600), (1150, 3, 700), (1150, 7, 800),
           (1200, 3, 900), (1200, 7, 1000), (1250, 3, 1100), (1250, 7, 1200)]
    p = spark.createDataFrame(price, "time long, id int, price double")
    v = spark.createDataFrame(vol, "time long, id int, volume long")
    joined = asof.left_join(p, v, tolerance=0, key=["id"])
    out = agg_ops.summarize(
        joined, S.weighted_mean_test("price", "volume")).collect()[0]
    assert out["price_volume_weightedMean"] == pytest.approx(4.166667, abs=1e-6)
    assert out["price_volume_weightedStandardDeviation"] == pytest.approx(
        1.547494, abs=1e-6)
    assert out["price_volume_weightedTStat"] == pytest.approx(8.237545, abs=1e-6)
    assert out["price_volume_observationCount"] == 12


def test_weighted_correlation_constant_weight_property(spark):
    """Reference property: constant weights == unweighted correlation
    (test_summary_weighted_correlation)."""
    rows = [(1000 + 50 * i, 1, float(i), float(i * i)) for i in range(10)]
    df = spark.createDataFrame(rows, "time long, id int, x double, y double") \
        .withColumn("w", F.lit(42.0))
    out = agg_ops.summarize(
        df, S.compose(S.weighted_correlation("x", "y", "w"),
                      S.correlation("x", "y"))).collect()[0]
    assert out["x_y_w_weightedCorrelation"] == pytest.approx(
        out["x_y_correlation"], abs=1e-12)


def test_ols_constant_columns(spark):
    """Reference shouldIgnoreConstants contract: constant x columns get
    beta/stdErr 0.0 and tStat NaN when ignored, all-NaN otherwise."""
    import math
    from flint_spark.operators.regression import ols_regression
    rows = [(i, float(i), 7.0, 2.0 * i + 1) for i in range(20)]
    df = spark.createDataFrame(rows, "time long, x1 double, x2 double, y double")
    strict = ols_regression(df, "y", ["x1", "x2"]).collect()[0]
    # NaN inside array<double> arrives as null through Arrow
    b0 = strict["beta"][0]
    assert (b0 is None or math.isnan(b0)) and strict["const_columns"] == ["x2"]
    loose = ols_regression(df, "y", ["x1", "x2"], ignore_constants=True).collect()[0]
    assert loose["beta"][0] == pytest.approx(2.0)
    assert loose["beta"][1] == 0.0 and loose["stdErr_beta"][1] == 0.0
    t1 = loose["tStat_beta"][1]
    assert t1 is None or math.isnan(t1)
    assert loose["const_columns"] == ["x2"]
    assert loose["rSquared"] == pytest.approx(1.0)


def test_ewma_windowed_vs_bruteforce(spark):
    """Windowed EWMA must equal the O(n*w) definition."""
    import numpy as np
    from flint_spark.operators.ema import ewma_windowed
    from flint_spark import windows as W

    rng = np.random.default_rng(5)
    t = np.sort(rng.integers(0, 10**6, 200))
    rows = [(int(ti), 1, float(x)) for ti, x in zip(t, rng.normal(10, 3, 200))]
    df = spark.createDataFrame(rows, "time long, id int, x double")
    wns = 10**5
    out = ewma_windowed(df, "x", W.TimeWindow(-wns, 0, "w"), alpha=0.1,
                        duration_per_period="1000ns", key=["id"]) \
        .orderBy("time").toPandas()
    lam = -np.log1p(-0.1) / 1000
    for _, r in out.sample(30, random_state=0).iterrows():
        mask = (t >= r["time"] - wns) & (t <= r["time"])
        xs = np.array([x for (ti, _, x), m in zip(rows, mask) if m])
        ts = t[mask]
        exp = (xs * np.exp(-lam * (r["time"] - ts))).sum()
        assert r["x_ewma"] == pytest.approx(exp, rel=1e-9)


def test_asof_duplicate_right_rows_deterministic(spark):
    """Duplicate (key, time) right rows must resolve identically under
    every physical layout (struct tie-break)."""
    left = spark.createDataFrame([(1100, 1, 1.0)], "time long, id int, x double")
    dup = [(1000, 1, 10), (1000, 1, 30), (1000, 1, 20)]
    results = set()
    for n in (1, 2, 5):
        right = spark.createDataFrame(dup, "time long, id int, v long") \
            .repartition(n)
        r = asof.left_join(left, right, tolerance=200, key=["id"]).collect()[0]
        results.add(r.v)
    assert results == {30}  # max struct: largest (rtime, v)


def test_asof_multi_column_key(spark):
    left = spark.createDataFrame(
        [(1100, 1, "a", 1.0), (1100, 1, "b", 2.0)],
        "time long, id int, grp string, x double")
    right = spark.createDataFrame(
        [(1000, 1, "a", 10), (1050, 1, "b", 20)],
        "time long, id int, grp string, v long")
    out = asof.left_join(left, right, tolerance=200, key=["id", "grp"])
    got = {(r.id, r.grp): r.v for r in out.collect()}
    assert got == {(1, "a"): 10, (1, "b"): 20}


def test_time_unit_ingestion(spark):
    """canonize converts s/ms/us integer time columns to ns."""
    df = spark.createDataFrame([(1700000000, 1.0)], "t long, x double")
    ts = TimeSeriesDataFrame.from_df(df, time_column="t", time_unit="s")
    assert ts.df.collect()[0].time == 1700000000 * 10**9
    df2 = spark.createDataFrame([(1700000000000, 1.0)], "t long, x double")
    ts2 = TimeSeriesDataFrame.from_df(df2, time_column="t", time_unit="ms")
    assert ts2.df.collect()[0].time == 1700000000000 * 10**6


def test_ewma_native_equals_pandas_scan(spark):
    import numpy as np
    from flint_spark.operators.ema import ewma, ewma_native
    rng = np.random.default_rng(9)
    t = np.sort(rng.integers(0, 10**15, 500))
    rows = [(int(ti), int(i % 7), float(x))
            for i, (ti, x) in enumerate(zip(t, rng.normal(50, 10, 500)))]
    df = spark.createDataFrame(rows, "time long, id int, x double")
    for conv in ("legacy", "core"):
        a = ewma(df, "x", alpha=0.1, duration_per_period="1d",
                 convention=conv, key=["id"]).orderBy("time", "id").toPandas()
        b = ewma_native(df, "x", alpha=0.1, duration_per_period="1d",
                        convention=conv, key=["id"]).orderBy("time", "id").toPandas()
        assert np.allclose(a["x_ewma"], b["x_ewma"], rtol=1e-9), conv


def test_asof_future_duplicate_right_rows_deterministic(spark):
    """Forward direction: duplicate (key, time) right rows resolve to
    the max struct under every layout — same rule as backward, so a
    dedup-by-max pre-agg on the right is redundant in both directions."""
    left = spark.createDataFrame([(900, 1, 1.0)], "time long, id int, x double")
    dup = [(1000, 1, 10), (1000, 1, 30), (1000, 1, 20)]
    results = set()
    for n in (1, 2, 5):
        right = spark.createDataFrame(dup, "time long, id int, v long") \
            .repartition(n)
        r = asof.future_left_join(left, right, tolerance=200,
                                  key=["id"]).collect()[0]
        results.add(r.v)
    assert results == {30}


def test_asof_hotkey_bucketed_matches_plain(spark):
    """Hot-key mitigation: bucketed as-of with a composite (bucket, key)
    grouping == plain keyed left_join, while the window shuffle is
    parallel in time instead of funneling the hot key into one task."""
    import numpy as np
    rng = np.random.default_rng(3)
    n = 5000
    t = np.cumsum(rng.integers(1, 10**9, n))
    left = spark.createDataFrame(
        [(int(ti), 1, float(i)) for i, ti in enumerate(t)],
        "time long, id int, x double")
    rt = np.cumsum(rng.integers(1, 2 * 10**9, n // 2))
    right = spark.createDataFrame(
        [(int(ti), 1, i) for i, ti in enumerate(rt)],
        "time long, id int, rv long")
    plain = {r["x"]: r["rv"] for r in
             asof.left_join(left, right, tolerance="100s",
                            key=["id"]).collect()}
    bucketed = {r["x"]: r["rv"] for r in
                asof.asof_keyless_bucketed(left, right, tolerance="100s",
                                           bucket="200s",
                                           key=["id"]).collect()}
    assert plain == bucketed
    assert sum(1 for v in plain.values() if v is not None) > 0


def test_symmetric_join_single_pass_and_mixed_dtype_fallback(spark):
    """Single-pass symmetric join: both sides enriched, equal-time
    inclusive both directions; mixed time dtypes fall back to the
    two-pass composition with identical output shape."""
    import re
    left = spark.createDataFrame(
        [(1000, 1, 10.0), (3000, 1, 30.0)], "time long, id int, lv double")
    right = spark.createDataFrame(
        [(1000, 1, 1.0), (2000, 1, 2.0)], "time long, id int, rv double")
    out = asof.symmetric_join(left, right, tolerance=1500, key=["id"])
    rows = {(r["side"], r["time"]): (r["left_lv"], r["right_rv"])
            for r in out.collect()}
    assert rows[("left", 1000)] == (10.0, 1.0)     # equal ts matches
    assert rows[("left", 3000)] == (30.0, 2.0)
    assert rows[("right", 1000)] == (10.0, 1.0)    # equal ts both ways
    assert rows[("right", 2000)] == (10.0, 2.0)
    plan = (out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert len(re.findall(r"Exchange (hash|range)", plan)) == 1
    # mixed dtypes -> two-pass fallback, same columns
    right_ts = right.withColumn("time", F.timestamp_micros(
        (F.col("time") / 1000).cast("long")))
    fb = asof.symmetric_join(left, right_ts, tolerance=1500, key=["id"])
    assert set(fb.columns) == set(out.columns)
    assert fb.count() == 4
