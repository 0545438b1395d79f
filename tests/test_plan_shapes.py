"""Plan guards for the tick operators at the benchmark's call shapes:
each distinct window aggregate is evaluated once, each operator sorts
once, time arithmetic stays integral, and a repeated call sequence
reuses its generated code instead of compiling it again."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from flint_spark import summarizers as S, windows as W
from flint_spark.operators import bars, ema, intervals, regression, windows_ops
from flint_spark.plans.audit import walk_plan
from flint_spark.timeseries import floor_div

T0 = dt.datetime(2024, 1, 2, 9, 30)


@pytest.fixture(scope="module")
def quotes(spark):
    rows = [(T0 + dt.timedelta(seconds=s), f"S{k}", 100.0 + s % 7 + k,
             100.02 + s % 5 + k, 100 * (1 + s % 3))
            for k in range(3) for s in range(0, 240, 1 + k)]
    return spark.createDataFrame(
        rows, "time timestamp, sym string, bid double, ask double, "
              "size long")


@pytest.fixture(scope="module")
def trades(spark):
    rows = [(T0 + dt.timedelta(seconds=s, microseconds=17 * s), f"S{k}",
             50.0 + (s * 7 + k) % 11, 100 * (1 + s % 4))
            for k in range(3) for s in range(0, 240, 3 + k)]
    return spark.createDataFrame(
        rows, "time timestamp, sym string, price double, qty long")


def _window_aggregates(df) -> list[int]:
    """Window expressions held by each Window node of the physical plan."""
    out, stack = [], [df._jdf.queryExecution().sparkPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window":
            out.append(node.windowExpression().size())
        stack.extend(node.children().apply(i)
                     for i in range(node.children().length()))
    return out


def _sorts(df) -> int:
    return sum(1 for n in walk_plan(df._jdf.queryExecution().executedPlan())
               if n == "Sort")


def _calls(quotes, trades):
    """The benchmark's tick calls that build Window plans."""
    return {
        "summarize_windows": windows_ops.summarize_windows(
            quotes, W.past_absolute_time("60s"),
            S.compose(S.count(), S.mean("bid"), S.stddev("bid")),
            key=["sym"]),
        "rolling_ols": regression.rolling_ols(
            quotes, "ask", "bid", W.past_absolute_time("60s"), key=["sym"]),
        "ewma_native": ema.ewma_native(
            quotes, "bid", alpha=0.05, duration_per_period="10s",
            key=["sym"]),
        "ohlc_bars": bars.ohlc_bars(trades, "1min", "price", key=["sym"],
                                    volume_col="qty", twap=True),
    }


def test_summarize_windows_evaluates_each_aggregate_once(quotes):
    # count(*), count(bid), sum(bid), sum(bid^2), each over the two
    # growing frames of the prefix difference
    df = windows_ops.summarize_windows(
        quotes, W.past_absolute_time("60s"),
        S.compose(S.count(), S.mean("bid"), S.stddev("bid")), key=["sym"])
    assert _window_aggregates(df) == [8]


def test_rolling_ols_evaluates_each_aggregate_once(quotes):
    # n, Σx, Σy, Σx², Σy², Σxy over the two growing frames
    df = regression.rolling_ols(quotes, "ask", "bid",
                                W.past_absolute_time("60s"), key=["sym"])
    assert _window_aggregates(df) == [12]


def test_overlap_lag_shares_the_core_growing_frame(quotes):
    # a past window's lag region ends where the core's prefix ends:
    # count, sum over frames (<= t+hi), (<= t+lo-1), (<= lag_lo-1)
    df = windows_ops.summarize_windows_overlap(
        quotes, W.past_absolute_time("60s"), "30s", S.mean("bid"),
        key=["sym"])
    assert _window_aggregates(df) == [6]


@pytest.mark.parametrize("name", ["ewma_native", "ohlc_bars"])
def test_tick_operator_sorts_once(quotes, trades, name):
    assert _sorts(_calls(quotes, trades)[name]) == 1


#: the windowed EMA family: each key's time base is a min over the row
#: order's own spec, and the range frame reuses its sort
_WINDOWED_EMA = {
    "ewma_windowed": lambda q, w: ema.ewma_windowed(
        q, "bid", w, key=["sym"]),
    "ewm_volatility_windowed": lambda q, w: ema.ewm_volatility_windowed(
        q, "bid", w, key=["sym"]),
    "ewm_corr_windowed": lambda q, w: ema.ewm_corr_windowed(
        q, "bid", "ask", w, key=["sym"]),
    "exponential_smoothing_windowed":
        lambda q, w: ema.exponential_smoothing_windowed(
            q, "bid", w, key=["sym"]),
}


@pytest.mark.parametrize("name", sorted(_WINDOWED_EMA))
def test_windowed_ema_sorts_once(quotes, name):
    df = _WINDOWED_EMA[name](quotes, W.past_absolute_time("60s"))
    assert _sorts(df) == 1


def test_floor_div_plans_stay_integral(spark, quotes, trades):
    from flint_spark import clocks

    ints = spark.createDataFrame([(7,), (-7,)], "v long")
    plans = [
        ints.select(floor_div(F.col("v"), 3)),
        bars.ohlc_bars(trades, "1min", "price", key=["sym"],
                       volume_col="qty", twap=True),
        intervals.summarize_intervals(
            quotes, clocks.uniform("2024-01-02 09:30:00",
                                   "2024-01-02 09:36:00", "1min"),
            S.compose(S.count(), S.mean("bid")), key=["sym"]),
    ]
    for df in plans:
        assert "decimal(38,0)" not in df._jdf.queryExecution().toString()


def test_repeated_calls_reuse_generated_code(spark, quotes, trades):
    """The benchmark's tick sequence generates about a hundred classes,
    more than Spark's default code cache keeps."""
    from flint_spark import clocks
    from flint_spark.operators import asof

    metric = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
              .METRIC_COMPILATION_TIME())

    def run():
        calls = list(_calls(quotes, trades).values()) + [
            join(trades, quotes, tolerance="5s", key=["sym"])
            for join in (asof.left_join, asof.future_left_join)] + [
            intervals.summarize_intervals(
                quotes, clocks.uniform("2024-01-02 09:30:00",
                                       "2024-01-02 09:36:00", "1min"),
                S.compose(S.count(), S.mean("bid")), key=["sym"])]
        for df in calls:
            df.write.format("noop").mode("overwrite").save()

    run()
    compiled = metric.getCount()
    run()
    assert metric.getCount() == compiled
